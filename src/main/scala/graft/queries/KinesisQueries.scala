package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.kinesis._
import graft.tables.Tables._

/** Declared queries exposing the reference-fidelity sink pipeline as
  * observable DataFrames: greedy size-bounded packing stats and a full
  * pack→wire→decode round trip. Greedy packing is order- and
  * size-dependent emission — per-batch grain is inexpressible as a SQL
  * aggregate, so each query collapses to invariant columns the DuckDB
  * oracle CAN pin (the q_sketch_cms flag pattern): exact input counts the
  * oracle recomputes from the source table, plus flags (every batch
  * ≤ 1,048,576 B per the KPL limit, byte-level round-trip equality,
  * counts conservation) that are pinned to 1 by construction. The full
  * per-batch invariants remain ScalaCheck-tested in the kinesis suites.
  */
object KinesisQueries {

  private val statsSchema = StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("batch_seq", IntegerType, nullable = false),
    StructField("num_records", IntegerType, nullable = false),
    StructField("size_bytes", IntegerType, nullable = false),
    StructField("wire_bytes", IntegerType, nullable = false),
    StructField("decode_ok", BooleanType, nullable = false)))

  val all: Seq[QDef] = Seq(

    // Pack lineitem rows (CSV-serialized payloads) into KPL aggregates,
    // 8 hash buckets — each bucket packed independently inside
    // mapPartitions, the exact shape of the distributed sink. The
    // per-batch stats frame is then collapsed to the invariants the
    // oracle pins: total packed user records == count(lineitem) (counts
    // conservation across greedy packing, KinesisWriter.scala:184-194
    // semantics), every batch within the 1 MiB KPL record cap
    // (AggRecord.java:33), every batch non-empty, and every aggregate
    // surviving a wire encode→decode byte-level round trip.
    QDef("q_kinesis_pack_stats",
      (s, d) => {
        val ehks = ShardModel.evenRanges(4)
          .map { case (lo, hi) => ShardModel.midpoint(lo, hi).toString }.toArray
        val packed = lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            concat_ws("|", col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
              col("l_linenumber"), col("l_quantity"), col("l_extendedprice")).as("payload"))
          .repartition(8, pmod(col("l_orderkey"), lit(8)))
          .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
        val cfg = KinesisSinkSemantics.Config(streamName = "q_kinesis_pack_stats")
        val rdd = packed.select(col("payload")).rdd.mapPartitionsWithIndex { (pid, rows) =>
          val (_, it) = KinesisSinkSemantics.packPartition(
            rows.map(_.getString(0).getBytes("UTF-8")), ehks, cfg, pid)
          it.zipWithIndex.map { case (b, i) =>
            val wire = b.aggregate.toRecordBytes
            val decoded = AggRecordCodec.decode(wire)
            // Arrays.equals, not .toSeq ==: the Seq comparison boxes every
            // payload byte (measured ~1 s of the query at sf0.1)
            Row(pid, i, b.numUserRecords, b.sizeBytes, wire.length,
              decoded.numUserRecords == b.numUserRecords &&
                decoded.records.length == b.aggregate.records.length &&
                decoded.records.iterator.zip(b.aggregate.records.iterator)
                  .forall { case (x, y) => java.util.Arrays.equals(x.data, y.data) })
          }
        }
        s.createDataFrame(rdd, statsSchema)
          .agg(
            sum(col("num_records")).cast("long").as("n_user_records"),
            min((col("size_bytes") <= AggRecordCodec.MaxBytesPerRecord)
              .cast("long")).as("all_within_limit"),
            min(col("decode_ok").cast("long")).as("all_decode_ok"),
            min((col("num_records") >= 1).cast("long")).as("all_nonempty"))
      },
      Some("""SELECT count(*) AS n_user_records,
          CAST(1 AS BIGINT) AS all_within_limit,
          CAST(1 AS BIGINT) AS all_decode_ok,
          CAST(1 AS BIGINT) AS all_nonempty
        FROM lineitem""")),

    // Pack payloads to KPL wire files, read them back through the DSv2
    // source (graft.kinesis.kpl), collapse to oracle-pinnable invariants:
    // record count conserved (== count(orders)), at least one wire file
    // per input partition (file count is one per AGGREGATE, so it grows
    // with SF — a pinned constant would be corpus-dependent, the r7 sf0.1
    // sweep caught exactly that), EHKs drawn from the 4 configured shard
    // midpoints, and total payload bytes identical on both sides of the
    // wire (the byte-equality flag is computed in-plan via a broadcast
    // 1-row join of the input-side byte sum — no driver-side collect).
    QDef("q_kpl_archive_roundtrip",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("kpl_q").toString
        val ehks = ShardModel.evenRanges(4)
          .map { case (lo, hi) => ShardModel.midpoint(lo, hi).toString }.toArray
        val payloads = orders(s, d)
          .select(concat_ws("|", col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).cast("binary").as("payload"))
          .repartition(4)
        graft.kinesis.kpl.KplFileFormat.writeWireFiles(payloads, "payload", dir, ehks)
        val inBytes = payloads
          .agg(sum(length(col("payload"))).as("in_bytes"))
        s.read.format(graft.kinesis.kpl.KplFileFormat.Name).load(dir)
          .agg(count(lit(1)).cast("long").as("n_records"),
            countDistinct(col("source_file")).cast("long").as("n_files"),
            countDistinct(col("explicit_hash_key")).as("n_ehks"),
            sum(length(col("data"))).as("out_bytes"))
          .crossJoin(broadcast(inBytes))
          .select(col("n_records"),
            (col("n_files") >= 4).cast("long").as("files_cover_partitions"),
            (col("n_ehks") >= 1 && col("n_ehks") <= 4).cast("long")
              .as("ehks_in_shard_set"),
            (col("out_bytes") === col("in_bytes")).cast("long")
              .as("bytes_roundtrip_ok"))
      },
      Some("""SELECT count(*) AS n_records,
          CAST(1 AS BIGINT) AS files_cover_partitions,
          CAST(1 AS BIGINT) AS ehks_in_shard_set,
          CAST(1 AS BIGINT) AS bytes_roundtrip_ok
        FROM orders""")),

    // End-to-end sink run against the in-memory transport (4 shards, a
    // failure injected every 5th call to exercise rebuild-retry),
    // collapsed to the at-least-once contract the oracle pins: every
    // input record written exactly once by count (== count(orders) —
    // whole-call failures never store, so the rebuild-retry path keeps
    // received == written), all 4 shards hit, and the decoded user-record
    // count on the receiving side conserving the written count.
    QDef("q_kinesis_sink_roundtrip",
      (s, d) => {
        val kinesis = new InMemoryKinesis(numShards = 4, failEvery = 5)
        val cfg = KinesisSinkSemantics.Config(streamName = "graft-test", backoffMillis = 1)
        val payloads = orders(s, d)
          .select(concat_ws("|", col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).cast("binary").as("payload"))
          .repartition(4)
        val written = KinesisSinkSemantics.write(payloads, "payload", kinesis, kinesis, cfg)
        import scala.jdk.CollectionConverters._
        val perShard = kinesis.received.asScala.map { case (_, aggs) =>
          aggs.asScala.map(AggRecordCodec.decode(_).numUserRecords.toLong).sum
        }.toSeq
        import s.implicits._
        Seq((written, perShard.size.toLong, perShard.sum))
          .toDF("written", "n_shards", "received")
          .select(col("written").as("user_records_written"),
            (col("n_shards") === 4).cast("long").as("all_shards_hit"),
            (col("received") === col("written")).cast("long")
              .as("received_eq_written"))
      },
      Some("""SELECT count(*) AS user_records_written,
          CAST(1 AS BIGINT) AS all_shards_hit,
          CAST(1 AS BIGINT) AS received_eq_written
        FROM orders""")),

    // RENDEZVOUS (highest-random-weight) ROUTING — the stateless
    // alternative to the reference's md5-EHK shard-range routing
    // (ShardModel.Router picks a range midpoint; HRW needs NO range
    // table at all): every (doc, node) pair gets weight = the first 60
    // bits of md5("n<i>:<doc_id>"), the doc routes to the argmax node,
    // and when a node disappears exactly its own docs move (minimal
    // disruption — each surviving node's weight order is untouched).
    // Output pins both halves: per-node primary load AND the takeover
    // distribution (runner-up node of n7's docs — the load n7's loss
    // would shed onto each survivor). Shape: an 8-row broadcast node
    // frame fans each doc to 8 weighted rows, one per-doc window (rank
    // over 8 rows, partitioned by doc — no global ordering anywhere),
    // two hash-aggs. Weights are exact BIGINTs in both engines (Spark
    // conv(hex,16,10) ↔ DuckDB nibble-Horner, the simhash precedent);
    // 60-bit ties are structurally impossible short of an md5 collision,
    // and the (weight DESC, node) order breaks even those deterministically.
    // Class A.
    QDef("q_rendezvous_route",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val nodes = broadcast(s.range(8)
          .select(concat(lit("n"), col("id")).as("node")))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("wt").desc, col("node"))
        val ranked = documents(s, d).select(col("doc_id"))
          .crossJoin(nodes)
          .withColumn("wt",
            conv(substring(md5(concat(col("node"), lit(":"), col("doc_id"))),
              1, 15), 16, 10).cast("long"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .groupBy(col("doc_id"))
          .agg(min_by(col("node"), col("rn")).as("primary"),
            max_by(col("node"), col("rn")).as("runner_up"))
          .localCheckpoint(true) // primary load + takeover read it
        val load = ranked.groupBy(col("primary").as("node"))
          .agg(count(lit(1)).as("n_docs"))
        val takeover = ranked.filter(col("primary") === "n7")
          .groupBy(col("runner_up").as("node"))
          .agg(count(lit(1)).as("n_takeover"))
        load.join(takeover, Seq("node"), "left")
          .select(col("node"), col("n_docs"),
            coalesce(col("n_takeover"), lit(0L)).as("n_takeover"))
          .orderBy(col("node"))
      },
      Some {
        val horner = (1 to 15).map(i =>
          s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * " +
            s"${1L << (4 * (15 - i))}").mkString(" + ")
        s"""WITH pairs AS (SELECT doc_id, node,
              md5(node || ':' || CAST(doc_id AS VARCHAR)) AS h
            FROM documents
            CROSS JOIN (SELECT 'n' || CAST(range AS VARCHAR) AS node
              FROM range(8))),
          wt AS (SELECT doc_id, node, CAST($horner AS BIGINT) AS wt
            FROM pairs),
          ranked AS (SELECT doc_id, node,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY wt DESC, node) AS rn
            FROM wt),
          assign AS (SELECT doc_id,
              min_by(node, rn) AS prim, max_by(node, rn) AS runner_up
            FROM ranked WHERE rn <= 2 GROUP BY doc_id),
          load AS (SELECT prim AS node, CAST(count(*) AS BIGINT) AS n_docs
            FROM assign GROUP BY 1),
          tk AS (SELECT runner_up AS node,
              CAST(count(*) AS BIGINT) AS n_takeover
            FROM assign WHERE prim = 'n7' GROUP BY 1)
          SELECT node, n_docs, COALESCE(n_takeover, 0) AS n_takeover
          FROM load LEFT JOIN tk USING (node) ORDER BY node"""
      }),

    // CONSISTENT-HASH RING routing — the stateful sibling of HRW and
    // the direct analog of the reference's uint128 shard ranges
    // (ShardModel.evenRanges IS a ring with equal arcs; vnodes make the
    // arcs stochastic): 8 nodes × 4 vnodes hash onto a 60-bit ring,
    // each doc routes to the first ring point clockwise from its own
    // hash (wrap = global min point). The wrap and the successor scan
    // are ONE min over the broadcast 32-row ring frame with the
    // ineligible half pushed 2⁶¹ up (flag·2⁶¹ + pos stays < 2⁶² —
    // single-BIGINT min replaces an ordered scan, so the per-doc work
    // is a 32-way broadcast fan + one hash-agg; nothing global).
    // Output: per-node doc load + share in exact ppm. Class A.
    QDef("q_hash_ring",
      (s, d) => {
        val ring = broadcast(s.range(8).crossJoin(s.range(4).select(
            col("id").as("v")))
          .select(concat(lit("n"), col("id")).as("node"),
            conv(substring(md5(concat(lit("n"), col("id"), lit("#"), col("v"))),
              1, 15), 16, 10).cast("long").as("rpos")))
        val assigned = documents(s, d)
          .select(col("doc_id"),
            conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
              .cast("long").as("kpos"))
          .crossJoin(ring)
          .withColumn("rk",
            when(col("rpos") >= col("kpos"), lit(0L))
              .otherwise(lit(1L << 61)) + col("rpos"))
          .groupBy(col("doc_id")).agg(min_by(col("node"), col("rk")).as("node"))
        val tot = assigned.agg(count(lit(1)).as("n"))
        assigned.groupBy(col("node")).agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(tot))
          .select(col("node"), col("n_docs"),
            expr("(n_docs * 1000000) div n").as("share_ppm"))
          .orderBy(col("node"))
      },
      Some {
        def horner(e: String) = (1 to 15).map(i =>
          s"(strpos('0123456789abcdef', substr($e, $i, 1)) - 1) * " +
            s"${1L << (4 * (15 - i))}").mkString(" + ")
        s"""WITH ring AS (SELECT node,
              CAST(${horner("md5(node || '#' || CAST(v AS VARCHAR))")}
                AS BIGINT) AS rpos
            FROM (SELECT 'n' || CAST(a.range AS VARCHAR) AS node, b.range AS v
              FROM range(8) a CROSS JOIN range(4) b)),
          keys_ AS (SELECT doc_id,
              CAST(${horner("md5(CAST(doc_id AS VARCHAR))")} AS BIGINT)
                AS kpos
            FROM documents),
          assign AS (SELECT doc_id, min_by(node,
              (CASE WHEN rpos >= kpos THEN 0
                ELSE ${1L << 61} END) + rpos) AS node
            FROM keys_ CROSS JOIN ring GROUP BY doc_id),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM assign)
          SELECT node, CAST(count(*) AS BIGINT) AS n_docs,
            CAST((count(*) * 1000000) // n AS BIGINT) AS share_ppm
          FROM assign CROSS JOIN tot GROUP BY node, n ORDER BY node"""
      })
  )
}
