package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table readers for the driver-generated star schema + vector /
  * document / event fixtures (FIXTURES.md).
  *
  * All reads are plain `spark.read.parquet` so Catalyst can push filters and
  * prune columns into the scan. At cluster scale the same API reads a
  * partitioned directory tree; nothing here assumes a single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    Readers.fixtureParquet(spark, ensureIngested(spark, s"$sfDir/$table.parquet"))

  /** Floor below which a fixture is served as-is: re-laying a dimension
    * table into per-core files would replace one tiny read with N file
    * opens of a few rows each. 256 KB keeps region/nation/supplier/part/
    * customer single-file and re-lays the fact/corpus tables.
    */
  private val IngestRelayoutMinBytes = 256L * 1024

  private val ingestMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** ENGINE-INGESTED layout of a driver fixture table — the base-table
    * member of the ensure* artifact family (the reference never queries
    * raw input either: everything is ingested into its own index layout
    * first; the vector index and every increment store here already follow
    * that lifecycle).
    *
    * Why it exists: the driver's fixtures are single-file, SINGLE-ROW-GROUP
    * parquet, and a row group is parquet's atomic read unit — no
    * maxPartitionBytes/openCost tuning can split one, so every scan (and
    * the whole-stage-codegen kernel fused onto it: tokenize, digest, hash,
    * repetition stats) executes in ONE task regardless of cluster size.
    * Ingest rewrites the table once per fixture mtime into
    * defaultParallelism splittable files — same rows, same schema, same
    * pushdown surface (one parquet relation; PlanSpec pushed-filter and
    * column-pruning locks are unaffected) — so scans parallelize the way
    * any production table layout (multi-file, bounded row groups) does.
    * No query plan changes: this is storage layout, not an exchange, and
    * the text-never-shuffles lints hold exactly as before. Build cost is
    * one untimed lifecycle job per table, priced by the bench's ingest
    * metric like every other artifact; results are identical because every
    * gate output is order-independent by the Det discipline (DetCheck pins
    * partitioning independence).
    *
    * Sub-[[IngestRelayoutMinBytes]] files (the ≤25-row dimension tables)
    * and non-file sources (a directory is already a multi-file layout)
    * are served as-is.
    */
  private def ensureIngested(spark: SparkSession, src: String): String = {
    val p = new org.apache.hadoop.fs.Path(src)
    val status =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: java.io.IOException => None }
    status match {
      case Some(st) if st.isFile && st.getLen >= IngestRelayoutMinBytes =>
        // File count caps at 8, not defaultParallelism: each extra file is
        // an extra task PER SCAN STAGE for every query touching the table,
        // and the fixture surface is dominated by light scans — measured at
        // 32 files the per-task scheduling tax (+~0.3 s on every light
        // query) swamped the heavy-kernel parallelism win (−0.3..0.45 s on
        // tokenize/digest/from_json queries); 8 keeps most of the kernel
        // win at a quarter of the tax. A real deployment sizes files to
        // maxPartitionBytes and the cap never binds.
        val parallelism = math.min(8, spark.sparkContext.defaultParallelism)
        // mtime AND length: a fixture rewritten within one mtime-
        // granularity tick (same-second regeneration — coarse filesystems
        // round to whole seconds) would key identically under mtime alone
        // and serve the STALE layout forever; the length term catches any
        // same-tick rewrite that changes the byte count (TablesSpec pins
        // it). The residual blind spot — same tick, same length — is the
        // filesystem-theoretic limit every stat-keyed cache shares,
        // documented on [[fixtureSig]]'s consumers.
        val sig = s"${st.getModificationTime}:${st.getLen}"
        // Path memo over the store: scans resolve their table on every
        // query, and the store's lock already builds a key once.
        Memo.once(ingestMemo, s"$src:$sig:p$parallelism") {
          // the table name stays in the layout dir (and so in every
          // FileScan plan line): plans must remain greppable by table
          Stores.ensure(spark, s"ingest-${p.getName.stripSuffix(".parquet")}", src,
              s"p$parallelism") { dir =>
            spark.read.parquet(src)
              .repartition(parallelism)
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(dir)
          }
        }
      case _ => src
    }
  }

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Fixture "mtime:length" signature through the Hadoop FileSystem — the
    * ONE cache-key clock for every build-once artifact (ensure* layouts,
    * model fits, memoized counts) and for the prepared-plan key. The Hadoop
    * stat (not `java.io.File.lastModified`, a constant 0 for any non-local
    * URI) keeps remote corpora from pinning stale artifacts; the LENGTH
    * term catches a rewrite landing within one mtime-granularity tick
    * (coarse filesystems round to whole seconds — the same-tick hole
    * [[ensureIngested]] closed in r10, now closed for every consumer: a
    * same-tick corpus rewrite previously served NEW base-table rows against
    * STALE postings/norms/band stores, an internally inconsistent result no
    * single-artifact test could see). The residual blind spot — same tick,
    * same byte count — is the filesystem-theoretic limit every stat-keyed
    * cache shares. A missing or unreachable path keys as "0:0" and the
    * builder raises the real error.
    */
  def fixtureSig(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      s"${st.getModificationTime}:${st.getLen}"
    } catch { case _: java.io.IOException => "0:0" }
  }

  private val countMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Memoized corpus row count, keyed by (path, sig) like every artifact
    * cache: scale-derived parameters (LSH bits, k-means k) need N once per
    * fixture, not one count JOB per query invocation — on the timed bench
    * path the repeated count was pure overhead. Loaded via [[Memo.once]]
    * (the count is a Spark job; never run one under a map bin lock).
    */
  def embeddingsCount(spark: SparkSession, sfDir: String): Long = {
    val srcSig = graft.Tables.fixtureSig(spark, s"$sfDir/embeddings.parquet")
    Memo.once(countMemo, s"$sfDir:$srcSig")(
      java.lang.Long.valueOf(embeddings(spark, sfDir).count())).longValue()
  }

  /** The events fixture's `ts` physical type has varied across driver
    * rounds: nanosecond-precision parquet (arrives as Long ns-since-epoch
    * under `spark.sql.legacy.parquet.nanosAsLong=true`, which Spark's
    * scanner otherwise rejects) and plain `timestamp[us]` without UTC
    * adjustment (arrives as TIMESTAMP_NTZ). This normalizer gives
    * downstream event-time ops one stable TimestampType regardless of
    * which shape the scan produced. Sessions pin timeZone=UTC, so the
    * NTZ wall clock IS the epoch instant and the cast is lossless.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      // NB: `ts div 1000` (integer division) — a double division here would
      // round: epoch-ns values exceed double's 53-bit mantissa by ~2 decimal
      // digits, which showed up as ±1µs drift vs the DuckDB oracle.
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(load(spark, sfDir, "events"))
}
