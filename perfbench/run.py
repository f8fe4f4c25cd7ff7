#!/usr/bin/env python3
"""The repository benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath under
perfbench/.work; later runs reuse it while the sources are unchanged.

Workloads (see BENCHMARK.json for why each was chosen):
  kinesis_roundtrip   KinesisSinkSemantics.write into a fresh 8-shard
                      InMemoryKinesis, then a KinesisStreamSource read-back
  kinesis_faults      the same write under per-entry, throttle and whole-call
                      faults with a ShardThrottle
  queries             a fixed sample of the relational query modules plus
                      connected-components consumers and similarity joins

Each run sets up three times (setup_s is the median), then runs closed-loop
passes until --seconds have passed; pass_s is the median pass time and
heap_live_mb the median heap left after a full collection at the end of a
pass. A query run splits its time over two JVMs, the first of which also
writes every result for the oracle compare.

With --trace 0 the last line carries those end-to-end metrics; with --trace 1
it carries the per-layer metrics of traced passes (interleaved with untraced
ones, whose ratio is recorded as trace.pass_ratio). Every output is checked:
Kinesis writes and reads inside the harness, query results against DuckDB.
A failed check makes the run exit 1. The full record of each run, with its
environment, is written to perfbench/.work/runs/.

Tests of the benchmark itself:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
  (cd perfbench && sbt test)
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ["kinesis_roundtrip", "kinesis_faults", "queries"]
SCALE = 0.01          # query tables: 60,000 lineitem rows
HEAP = "2g"
QUERY_JVMS = 2
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return p.returncode, out


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in [os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and harness; return the runtime classpath."""
    cache = os.path.join(WORK, "build")
    stamp_file, cp_file = os.path.join(cache, "stamp"), os.path.join(cache, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(cache, exist_ok=True)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp_dir()}"
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                         "export Runtime/fullClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                        stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {rc})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def tmp_dir():
    d = os.path.join(WORK, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def git_commit():
    """The checkout's commit when it is a git work tree, else null."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return None


def run_jvm(cp, args, data, out, seconds, check, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp_dir()}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(seconds),
        "--trace", str(args.trace), "--check", "1" if check else "0",
        "--work", os.path.join(WORK, "jvm"), "--out", out]
    if data:
        cmd += ["--data", data]
    rc, _ = run_group(cmd, max(1.0, deadline - time.time()), cwd=ROOT, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def merge(recs):
    """One record from the records of the run's JVMs, in order."""
    rec = dict(recs[0])
    for k in ("attempted", "failed"):
        rec[k] = sum(r[k] for r in recs)
    rec["errors"] = [e for r in recs for e in r["errors"]]
    rec["samples"] = {k: [x for r in recs for x in r["samples"][k]] for k in recs[0]["samples"]}
    rec["env"]["jvms"] = len(recs)
    return rec


def end_to_end(rec):
    """The end-to-end metrics, from the samples of the untraced passes."""
    smp = rec["samples"]
    passes = [p["s"] for p in smp["pass_s"] if not p["traced"]]
    return {"setup_s": {"value": statistics.median(smp["setup_s"]), "unit": "s"},
            "pass_s": {"value": statistics.median(passes), "unit": "s"},
            "heap_live_mb": {"value": statistics.median(smp["heap_mb"]), "unit": "MB"}}


def check_queries(rec, data):
    """Oracle problems per query of the check pass."""
    import oracle
    con = oracle.connect(data, tmp_dir())
    sqls = rec["params"]["oracle_sql"]
    problems = {}
    for name in rec["params"]["queries"]:
        if name not in sqls:
            problems[name] = ["no oracle SQL"]
            continue
        p = oracle.compare(con, os.path.join(WORK, "jvm", "results", name), sqls[name])
        if p:
            problems[name] = p
    return problems


def issue_metrics(rec):
    """The workload's user-facing figures, derived from the run's samples."""
    untraced = [p for p in rec["samples"]["pass_s"] if not p["traced"]]
    pr = rec["params"]
    out = []
    if rec["workload"].startswith("kinesis"):
        writes = [p["op_s"]["write"] for p in untraced]
        w = statistics.median(writes)
        out += [("write_records_per_s", "records/s", pr["payload"]["payloads"] / w),
                ("write_mb_per_s", "MB/s", pr["payload_bytes"] / 1e6 / w)]
        if pr["read_back"]:
            r = statistics.median(p["s"] - p["op_s"]["write"] for p in untraced)
            out.append(("read_records_per_s", "records/s", pr["payload"]["payloads"] / r))
    else:
        qs = sorted(v for p in untraced for v in p["op_s"].values())
        out += [("query_s_p50", "s", statistics.median(qs)),
                ("query_s_p90", "s", statistics.quantiles(qs, n=10)[-1] if len(qs) > 1 else qs[0])]
    return out


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the engine (build.sbt and src/ not found)")
    os.environ["TMPDIR"] = tmp_dir()
    sys.path.insert(0, HERE)
    import gen_tables

    t0 = time.time()
    cp = build()
    build_s = time.time() - t0
    data = None
    if args.workload.startswith("queries"):
        data = gen_tables.generate(os.path.join(WORK, "data", f"seed-{args.seed}"), args.seed, SCALE)
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    shutil.rmtree(os.path.join(WORK, "jvm"), ignore_errors=True)
    # a query run spreads its time over fresh JVMs, whose speed differs
    # more from one process to the next than from pass to pass
    jvms = QUERY_JVMS if data and not args.trace else 1
    deadline = time.time() + RUN_TIMEOUT_S
    rec = merge([run_jvm(cp, args, data, f"{out}.{i}", args.seconds / jvms, i == 0, deadline)
                 for i in range(jvms)])
    rec["end_to_end"] = end_to_end(rec)

    attempted, failed = rec["attempted"], rec["failed"]
    problems = list(rec["errors"])
    if data:
        bad = check_queries(rec, data)
        attempted += len(rec["params"]["queries"])
        failed += len(bad)
        problems += [f"{q}: {'; '.join(p)}" for q, p in sorted(bad.items())]
        rec["oracle_mismatches"] = bad
    rec["env"].update({"git_commit": git_commit(), "build_s": build_s, "heap": HEAP,
                       "scale": SCALE if data else None})
    rec["error_share"] = failed / attempted
    with open(out, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)

    for p in problems[:20]:
        print(f"CHECK FAILED {p}")
    key = "per_layer" if args.trace else "end_to_end"
    shown = [(n, m["unit"], m["value"]) for n, m in rec[key].items()]
    if not args.trace:
        shown += issue_metrics(rec) + [("heap_peak_mb", "MB", max(rec["samples"]["heap_mb"])),
                                       ("error_share", "ratio", failed / attempted)]
    for n, u, v in shown:
        print(f"{args.workload} {n} = {v:.6g} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": rec[key]}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
