package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table catalog over a scale-factor directory.
  *
  * All queries take `(spark, sfDir)` and resolve tables here, so the same
  * plan runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1+ (bench) — and,
  * unchanged, against a partitioned directory layout on a real cluster:
  * `spark.read.parquet` prunes partitions/row-groups and pushes filters
  * down regardless of file count.
  */
object Tables {

  /** Data-size-derived AQE seed partition count (guide §2: derive the
    * shuffle parallelism from INPUT SIZE, never a constant tuned for one
    * box): one initial partition per 8 MB of `*.parquet` files under
    * `sfDir` (checksums, `_SUCCESS` markers and stray files do not
    * count), clamped to [cpus, 2048]. AQE's coalescer only merges DOWN,
    * so the seed must start high enough for the data — at the sf100
    * anchor (~600 M rows) a cpus-sized seed left 1–2 GB per sort-merge
    * partition (q12 463 s vs 189 s at 512, the committed r16 A/B), while
    * at the test SFs (≤ 17.5 MB parquet) the clamp returns `cpus`
    * unchanged, so sf0.001–sf0.1 bench/verify methodology is identical
    * to every prior round. 8 MB parquet ≈ 25–65 MB in-memory/shuffle
    * bytes at this data's measured compression, i.e. the coalescer's own
    * 64 MB advisory target. */
  def derivedInitPartitions(sfDir: String, cpus: Int): Int = {
    val bytes =
      try {
        val root = java.nio.file.Paths.get(sfDir)
        if (!java.nio.file.Files.isDirectory(root)) 0L
        else {
          val s = java.nio.file.Files.walk(root)
          try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
              p.getFileName.toString.endsWith(".parquet"))
            .mapToLong(java.nio.file.Files.size(_)).sum
          finally s.close()
        }
      } catch { case _: Throwable => 0L }
    math.max(cpus, math.min(2048L, bytes / (8L << 20)).toInt)
  }

  /** Opt-in columnar table cache (Bench turns it on): repeated queries
    * over the same scale factor share one in-memory columnar copy of each
    * table instead of re-reading parquet footers + pages per query — the
    * single-node analog of a warmed cluster cache. Off by default so
    * Verify measures the cold path. */
  @volatile private var cacheEnabled = false
  private val cached = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  def enableCache(): Unit = { cacheEnabled = true }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (cacheEnabled)
      cached.computeIfAbsent((sfDir, name),
        _ => spark.read.parquet(s"$sfDir/$name.parquet").cache())
    else spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** Normalize an events frame's `ts` to µs TimestampType, whatever the
    * parquet writer annotated:
    *  - TIMESTAMP(NANOS) → Spark 4 reads a nanosecond Long
    *    (`spark.sql.legacy.parquet.nanosAsLong=true`, set in
    *    GraftSession); integral `div 1000` keeps it exact (the
    *    data's sub-µs digits are zero).
    *  - naive µs (isAdjustedToUTC=false) → Spark 4 reads TIMESTAMP_NTZ;
    *    the cast to TimestampType is the identity under the UTC-pinned
    *    sessions every entry point uses (and DuckDB reads the same bytes
    *    as its naive TIMESTAMP), so both engines see identical instants.
    * Every consumer — batch queries and the streaming file source — goes
    * through this one dispatch so a testdata re-annotation can't split
    * their semantics. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // the NTZ→LTZ cast reinterprets the naive instant in the SESSION
        // timezone — only the identity under UTC. Every entry point pins
        // spark.sql.session.timeZone=UTC; fail loudly here rather than
        // silently shifting every event instant if one ever forgets.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"normalizeEventTs requires spark.sql.session.timeZone=UTC " +
            s"(got '$tz'): the TIMESTAMP_NTZ cast would shift instants")
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact table row count from parquet footer metadata — a driver-side
    * file-listing + footer read, NO Spark job. This is the single-node
    * analog of catalog statistics (`ANALYZE TABLE` / metastore rowCount):
    * operators that only need cardinality to pick a knob (e.g. LSH bit
    * width ≈ log₂ n) should use this instead of a `count()` action so
    * query construction stays lazy and batchable. Cached per (dir, name)
    * like the tables themselves. */
  private val countCache = new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    countCache.computeIfAbsent((sfDir, name), { _ =>
      val path = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = path.getFileSystem(conf)
      val root = fs.getFileStatus(path)
      // single-file table or a directory of part files
      val files = if (root.isFile) Array(root)
        else fs.listStatus(path).filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
      files.map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getRecordCount finally reader.close()
      }.sum
    })
}
