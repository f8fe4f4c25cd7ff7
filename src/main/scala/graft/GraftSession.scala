package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every entry point runs under — the benchmark,
  * the correctness dump, the plan tools, the scale and accuracy probes
  * and the test suites — so a measurement and the gate it is compared
  * against can never run under drifted settings:
  *
  *  - `local[cpus]` with `cpus` shuffle partitions, UI off, UTC;
  *  - `nanosAsLong`: timestamp annotations vary by testdata regen —
  *    TIMESTAMP(NANOS) reads as a ns-Long under this flag, naive µs reads
  *    as TIMESTAMP_NTZ, and `Tables.normalizeEventTs` normalizes either
  *    to µs TimestampType;
  *  - AQE on (measured at sf0.1: ~87 s vs ~97 s total with it off — its
  *    post-shuffle coalescing trims task overhead on the many-partition
  *    stages), seeded from the input size (see [[reseed]]);
  *  - a 24000-entry codegen class cache: janino's default of 100 entries
  *    sits ~60× below this suite's generated-class count. One full pass
  *    over the 411-query surface generates ~6,160 DISTINCT classes (r16
  *    re-measure) — at 100 entries 12,808 compilations ≈ 92 s, and at the
  *    old 5000 each bench pass cyclically re-evicts and recompiles the
  *    ~1,200 overflow. 24000 holds the whole working set, so passes after
  *    the first compile zero classes; the memory cost is bounded by class
  *    bytecode (~KBs each, tens of MB total);
  *  - log level WARN.
  */
object GraftSession {

  /** Worker threads for mains without a default cpus of their own. */
  def defaultCpus: Int = math.min(32, Runtime.getRuntime.availableProcessors)

  private val InitPartitions =
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  def build(cpus: Int, sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "24000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    reseed(spark, sfDir)
    spark
  }

  /** Set AQE's seed partition count from the parquet bytes under `sfDir`
    * (`Tables.derivedInitPartitions`): `cpus` at the test SFs, ~600 at
    * sf100. AQE's coalescer only merges down, so a cpus-sized seed at
    * sf100 left 1–2 GB per sort-merge partition (q12 463 s vs 189 s at
    * 512, the r16 A/B), while a fixed 512 measured −13% on the sf0.1 hot
    * set (512-block map outputs cost more than they buy on MB-scale
    * shuffles). Mains that synthesize their data after the session
    * starts call this again on the new directory. */
  def reseed(spark: SparkSession, sfDir: String): Unit =
    spark.conf.set(InitPartitions, graft.tables.Tables
      .derivedInitPartitions(sfDir, spark.sparkContext.defaultParallelism)
      .toString)
}
