package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** JSON / CSV sources (SURVEY.md §2.B scans table — the reference stores
  * `_source` JSON in Elasticsearch; our engine reads line-delimited JSON and
  * CSV through Spark's native readers).
  *
  * The driver fixtures are parquet-only, so each gate derives a JSON/CSV twin
  * of the `nation` table once per (sfDir, mtime) into the JVM temp dir, then
  * reads it back through the real `spark.read.json/csv` path with an EXPLICIT
  * schema — at 100 TB schema inference would be a full extra pass over the
  * data. The oracle checks the round-tripped values against the original
  * parquet table: format-independent because the columns are int + string.
  */
object Sources {

  /** The engine-independent multiplicative doc-id hash shared by the
    * q99/q111/q188 family (reduce mod the prime BEFORE the multiply so the
    * product never overflows BIGINT on any engine — the q99 scaladoc
    * argument). ONE definition: a change to the constant, modulus, or
    * overflow guard cannot silently fork the "same hash" contract between
    * the sampling, shuffling, and packing gates. Oracles restate it as SQL
    * (`((doc_id % 1000000007) * 2654435761) % 1000000007`) — the gate
    * hash-compare pins the two in lockstep.
    */
  private[operators] def docHashKey: org.apache.spark.sql.Column =
    pmod((col("doc_id") % 1000000007L) * 2654435761L, lit(1000000007L))

  private val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  /** Write-once derivation of the nation fixture in format `fmt`
    * ([[graft.Stores.ensure]]); `mode(Overwrite)` cleans up any partial
    * attempt.
    */
  private def derived(spark: SparkSession, sfDir: String, fmt: String): String =
    graft.Stores.ensure(spark, s"source-$fmt", s"$sfDir/nation.parquet", "") { dir =>
      val w = Tables.nation(spark, sfDir).coalesce(1).write.mode("overwrite")
      fmt match {
        case "json" => w.json(dir)
        case "csv"  => w.option("header", "true").csv(dir)
        case "orc"  => w.orc(dir)
        case "xml"  => w.option("rowTag", "nation").format("xml").save(dir)
      }
    }

  /** q52 — line-delimited JSON source with explicit schema + aggregate. */
  def jsonSource(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(nationSchema).json(derived(spark, sfDir, "json"))
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
      .orderBy(col("n_regionkey"))

  val jsonSourceOracle: String =
    """SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_nation
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin

  /** q53 — header CSV source with explicit schema + aggregate. */
  def csvSource(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(nationSchema).option("header", "true")
      .csv(derived(spark, sfDir, "csv"))
      .groupBy(col("n_regionkey"))
      .agg(
        max(length(col("n_name"))).cast("bigint").as("max_name_len"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("n_regionkey"))

  val csvSourceOracle: String =
    """SELECT n_regionkey,
      |       CAST(max(length(n_name)) AS BIGINT) AS max_name_len,
      |       count(*) AS n_nations
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin

  /** q69 — ORC source: the third columnar format Spark reads natively
    * (parquet/orc symmetrical; both carry min/max stats and predicate
    * pushdown). Round-trips `nation` through ORC and aggregates.
    */
  def orcSource(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(nationSchema).orc(derived(spark, sfDir, "orc"))
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), max(col("n_name")).as("last_nation"))
      .orderBy(col("n_regionkey"))

  val orcSourceOracle: String =
    """SELECT n_regionkey, count(*) AS n_nations, max(n_name) AS last_nation
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin

  /** q179 — XML source: Spark 4's NATIVE XML reader (the spark-xml package
    * merged into core), the format enterprise feeds still arrive in. Same
    * round-trip discipline as q52/q53/q69 — derive the XML twin once, read
    * it back with an EXPLICIT schema + `rowTag` (inference is an extra full
    * pass at scale; row-tag scoping is what lets Spark split large XML files
    * across tasks), aggregate, and check values against the original
    * parquet table.
    */
  def xmlSource(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(nationSchema).option("rowTag", "nation").format("xml")
      .load(derived(spark, sfDir, "xml"))
      .groupBy(col("n_regionkey"))
      .agg(
        count(lit(1)).as("n_nations"),
        min(length(col("n_name"))).cast("long").as("min_name_len"))
      .orderBy(col("n_regionkey"))

  val xmlSourceOracle: String =
    """SELECT n_regionkey, count(*) AS n_nations,
      |       CAST(min(length(n_name)) AS BIGINT) AS min_name_len
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin

  /** q70 — deterministic train/valid/test split (80/10/10): the assignment
    * every training-data pipeline needs to be REPRODUCIBLE and
    * engine-independent — a multiplicative hash of the stable doc id, never
    * `rand()` (seeded RNGs don't survive partitioning changes, let alone an
    * engine swap; this exact SQL reproduces the split anywhere). Gate output
    * is the per-(lang, split) stratification summary. At ids beyond 2^32 use
    * a 64-bit mix (e.g. xxhash64) — same shape, engine-specific oracle.
    */
  def trainSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("bucket", (col("doc_id") * 2654435761L) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        // exact integer sum, then ONE double division — identical on any
        // engine/partitioning (avg() accumulation order is not)
        Det.display(sum(col("n_chars")) / count(lit(1)), 4).as("avg_chars"))
      .orderBy(col("lang"), col("split"))

  val trainSplitOracle: String =
    """SELECT lang,
      |       CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
      |            WHEN (doc_id * 2654435761) % 100 < 90 THEN 'valid'
      |            ELSE 'test' END AS split,
      |       count(*) AS n_docs,
      |       floor(CAST(sum(n_chars) AS BIGINT) / count(*) * 10000.0 + 0.5)
      |         / 10000.0 AS avg_chars
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY lang, split""".stripMargin

  /** q81 — stratified (domain-reweighted) sampling: per-source keep rates —
    * the "domain mixing" step that rebalances web/books/code proportions
    * before training. Same engine-independent multiplicative hash as the
    * q70 split (deterministic membership: re-running anywhere reproduces the
    * sample), with the per-domain rate table joined by BROADCAST — the
    * mixing config is dozens of rows; the corpus side never shuffles and
    * aggregates map-side. Gate output is the per-source summary; the sampled
    * corpus itself is the same plan minus the final groupBy.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rates = Seq(
      "src0" -> 90L, "src1" -> 90L, "src2" -> 90L, "src3" -> 90L,
      "src4" -> 60L, "src5" -> 60L, "src6" -> 60L, "src7" -> 60L)
      .toDF("source", "rate")
    Tables.documents(spark, sfDir)
      .join(broadcast(rates), Seq("source"), "left")
      .withColumn("r", coalesce(col("rate"), lit(30L)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when((col("doc_id") * 2654435761L) % 100 < col("r"), 1L).otherwise(0L))
          .as("n_kept"))
      .orderBy(col("source"))
  }

  val stratifiedSampleOracle: String =
    """SELECT source, count(*) AS n_total,
      |       CAST(sum(CASE WHEN (doc_id * 2654435761) % 100 <
      |         (CASE WHEN source IN ('src0','src1','src2','src3') THEN 90
      |               WHEN source IN ('src4','src5','src6','src7') THEN 60
      |               ELSE 30 END) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** q86 — sequence packing: lay documents head-to-tail per source shard and
    * cut fixed token-budget context windows (the GPT-style "concat and chunk
    * every T tokens" batch-prep step; documents may straddle a cut). Gate
    * output is the per-(source, bin) packing summary: docs started, tokens
    * contributed, boundary straddles — the fill diagnostics a training
    * pipeline monitors.
    *
    * Scale shape — a DISTRIBUTED prefix sum, never a per-shard serial one.
    * A window partitioned only by `source` puts every (doc_id, n_tokens) row
    * of a shard into ONE task; with few (or one skewed) sources the whole
    * corpus sorts serially. Instead the running total is computed in two
    * levels, the classic parallel scan:
    *
    *   1. block-local cumsums — window over (source, block) where
    *      `block = floor(doc_id / blockWidth)`. Monotone in doc_id, so block
    *      order IS doc order; each block sorts `blockWidth` ids' worth of
    *      rows, in parallel across the cluster.
    *   2. block offsets — per-(source, block) totals (one row per block,
    *      corpus-independent size) get an exclusive prefix sum within
    *      source; that window runs over block-count rows, not corpus rows.
    *   3. `cum = local_cum + offset`, rejoined by BROADCAST — at 10^10 docs
    *      and the default width the offset table is ~10^6 tiny rows.
    *
    * The narrow (doc_id, source, block, n_tokens) table is pinned via
    * [[Materialize]] so the corpus text is tokenized in ONE scan feeding
    * both levels. All arithmetic is exact integer sums plus one final
    * floor-division — the result is bitwise identical to the serial
    * definition (the oracle's single `sum OVER (PARTITION BY source)`)
    * for any blockWidth, which SourcesSpec pins by comparing widths.
    */
  def packSequences(
      spark: SparkSession,
      sfDir: String,
      budget: Int = 512,
      blockWidth: Long = 8192L): DataFrame =
    packCounts(
      Tables.documents(spark, sfDir)
        .select(
          col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
      budget, blockWidth)

  /** The two-level DISTRIBUTED prefix sum itself, extracted: adds `cum` —
    * the inclusive running token total within `source` in doc_id order —
    * to any (doc_id, source, n_tokens) frame. Shared by the packing family
    * (q86/q112 via [[packCounts]]) and the PPS sampler (q186): bitwise
    * equal to the serial single-window definition for any blockWidth (the
    * [[packSequences]] scaladoc argument; SourcesSpec pins it by comparing
    * widths).
    */
  private[operators] def withCumCounts(
      counts: DataFrame,
      blockWidth: Long): DataFrame = {
    val tok = Materialize.stable(
      counts.withColumn("block", floor(col("doc_id") / blockWidth).cast("long")))

    val wLocal = Window.partitionBy(col("source"), col("block"))
      .orderBy(col("doc_id"))
    val local = tok.withColumn("local_cum", sum(col("n_tokens")).over(wLocal))

    // Exclusive prefix of block totals within each source: tiny frame (one
    // row per block), so this per-source window is NOT a serialization risk.
    val wOffset = Window.partitionBy(col("source")).orderBy(col("block"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = tok.groupBy(col("source"), col("block"))
      .agg(sum(col("n_tokens")).as("block_total"))
      .withColumn("offset", coalesce(sum(col("block_total")).over(wOffset), lit(0L)))
      .select(col("source"), col("block"), col("offset"))

    local.join(broadcast(offsets), Seq("source", "block"))
      .withColumn("cum", col("local_cum") + col("offset"))
  }

  /** The two-level prefix-sum packing core over ANY (doc_id, source,
    * n_tokens) counts frame — q86 feeds whitespace token counts, q112 feeds
    * the BPE encoder's subword counts. Same distributed-scan shape and the
    * same bitwise-equals-serial guarantee for any blockWidth (see
    * [[packSequences]] scaladoc).
    */
  private[operators] def packCounts(
      counts: DataFrame,
      budget: Int,
      blockWidth: Long): DataFrame =
    withCumCounts(counts, blockWidth)
      .select(
        col("source"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / lit(budget.toDouble)).as("bin"),
        (floor((col("cum") - 1) / lit(budget.toDouble)) >
          floor((col("cum") - col("n_tokens")) / lit(budget.toDouble)))
          .cast("long").as("straddle"))
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("straddle")).as("n_straddle"))
      .orderBy(col("source"), col("bin"))

  val packSequencesOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
      |           AS BIGINT) AS cum
      |  FROM tok)
      |SELECT source,
      |       CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin,
      |       count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN floor((cum - 1) / 512.0) >
      |                          floor((cum - n_tokens) / 512.0)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
      |FROM c
      |GROUP BY source, bin
      |ORDER BY source, bin""".stripMargin

  /** q186 — SYSTEMATIC PPS SAMPLE (probability proportional to size): lay
    * each source's documents head-to-tail in token space and select every
    * document whose token interval crosses a multiple of `step` — the
    * classic survey-statistics systematic PPS design: inclusion probability
    * ≈ n_tokens/step, i.e. documents sampled proportional to their TOKEN
    * WEIGHT, the "sample by contribution, not by count" primitive a
    * token-budgeted corpus inspection wants (q81/q99 sample by document;
    * a 100-token and a 100k-token doc there count the same).
    *
    * Determinism is the whole design: where weighted reservoir sampling
    * (A-ES) keys on `u^(1/w)` — a `pow` whose last-ulp rounding IEEE does
    * NOT pin, so two engines can disagree at a selection boundary — the
    * systematic design is PURE BIGINT: the running total reuses the q86
    * two-level distributed prefix sum ([[withCumCounts]] — no per-source
    * serialization, blockWidth-independent), and the crossing test is two
    * integer floor-divisions. Bitwise reproducible on any engine, any
    * partitioning, any blockWidth.
    *
    * Scale shape: identical to q86 — one narrow counts scan, block-local
    * windows, a broadcast offset rejoin, then a narrow filter. Nothing
    * corpus-sized shuffles beyond the block-partitioned rank.
    */
  def ppsSample(
      spark: SparkSession,
      sfDir: String,
      step: Long = 300L,
      blockWidth: Long = 8192L): DataFrame = {
    require(step > 0, s"step must be positive: $step")
    withCumCounts(
      Tables.documents(spark, sfDir)
        .select(
          col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
      blockWidth)
      .filter(expr(s"(cum div $step) > ((cum - n_tokens) div $step)"))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum"))
      .orderBy(col("source"), col("doc_id"))
  }

  def ppsSampleOracle(step: Long = 300L): String =
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
       |           AS BIGINT) AS cum
       |  FROM tok)
       |SELECT source, doc_id, n_tokens, cum
       |FROM c
       |WHERE (cum // $step) > ((cum - n_tokens) // $step)
       |ORDER BY source, doc_id""".stripMargin

  /** q188 — NO-SPLIT sequence packing (best-fit-decreasing): assign each
    * document WHOLE to a fixed-token-budget training sequence. q86's
    * concat-and-chunk splits documents across window boundaries (maximal
    * fill, fragmented attention); this is the published alternative — keep
    * every document intact and minimize padding waste instead. BFD is the
    * classic decreasing greedy (same 11/9·OPT asymptotic guarantee class
    * as FFD); a document longer than the budget gets a singleton bin with
    * `fill_ppm > 1e6`, the caller's signal to truncate downstream rather
    * than this operator silently splitting.
    *
    * Scale shape: packing is inherently sequential, so the corpus is
    * sharded by the q111 engine-independent multiplicative hash and BFD
    * runs per shard via `groupByKey.flatMapGroups` — the typed keyed-group
    * API, all shards packing in parallel; the one exchange is the
    * hash-partition by shard, which doubles as the training-shard write
    * partitioning. `numShards` scales with the corpus (the q111 contract)
    * so a shard's (doc_id, n_tokens) pairs fit executor memory — the
    * per-group state is two longs per document plus one per open bin, and
    * the bin search is an ordered-set ceiling lookup on remaining
    * capacity, O(log bins) per document (a linear first-fit scan is
    * O(docs·bins) — quadratic in shard size, hours of CPU at the
    * million-doc shards this scaladoc sizes for). Deterministic by
    * construction (hash shard, (tokens desc, id) order, tightest-fit with
    * lowest-bin tie-break) — no SQL oracle (greedy recursion isn't
    * relational), pinned by a driver-model equality spec + DetCheck.
    */
  def bestFitPack(
      spark: SparkSession,
      sfDir: String,
      budget: Int = 512,
      numShards: Int = 16): DataFrame = {
    import spark.implicits._
    require(budget > 0 && numShards > 0, s"budget/numShards must be positive")
    val counts = Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .select(
        pmod(docHashKey, lit(numShards.toLong)).as("shard"),
        col("doc_id"), col("n_tokens"))
      .as[(Long, Long, Long)]
    counts.groupByKey(_._1)
      .flatMapGroups { (shard: Long, it: Iterator[(Long, Long, Long)]) =>
        val ds = it.map { case (_, id, n) => (id, n) }.toArray
        java.util.Arrays.sort(ds, Ordering.by((d: (Long, Long)) => (-d._2, d._1)))
        // open bins ordered by (remaining, binId): minAfter((n, -1)) is the
        // TIGHTEST bin that still fits — best-fit as one ceiling lookup,
        // with the lowest bin id breaking remaining-capacity ties
        val remaining = scala.collection.mutable.TreeSet.empty[(Long, Int)]
        val binTotals = scala.collection.mutable.ArrayBuffer.empty[Long]
        val binDocs = scala.collection.mutable.ArrayBuffer.empty[Long]
        val binFirst = scala.collection.mutable.ArrayBuffer.empty[Long]
        ds.foreach { case (id, n) =>
          val bin = remaining.minAfter((n, -1)) match {
            case Some(key @ (rem, b)) =>
              remaining.remove(key)
              remaining.add((rem - n, b))
              b
            case None =>
              binTotals += 0L; binDocs += 0L; binFirst += Long.MaxValue
              // an oversize doc's bin has negative remaining and is never
              // offered again (every lookup key n is positive)
              remaining.add((budget.toLong - n, binTotals.length - 1))
              binTotals.length - 1
          }
          binTotals(bin) += n
          binDocs(bin) += 1
          if (id < binFirst(bin)) binFirst(bin) = id
        }
        // the loop already holds every per-bin aggregate, so emit ONE row
        // per bin — per-document rows would leave the group function only
        // to be re-aggregated behind a second corpus-sized exchange
        // (MapGroupsExec's fresh output attributes hide the existing shard
        // partitioning from Catalyst)
        binTotals.indices.iterator.map { b =>
          (shard, b.toLong, binDocs(b), binTotals(b), binFirst(b))
        }.toVector
      }
      .toDF("shard", "bin", "n_docs", "n_tokens", "first_doc")
      .withColumn("fill_ppm", expr(s"n_tokens * 1000000L div $budget"))
      .orderBy(col("shard"), col("bin"))
  }

  /** q99 — deterministic FIXED-SIZE per-source sample: exactly `n` docs per
    * domain (the "pin the eval slice" / "inspect n examples per source"
    * primitive; q81's rate-based sampling can't hit an exact count). Rank
    * within source by the same engine-independent multiplicative hash as
    * the q70 split — reproducible anywhere, no `rand()` — with the stable
    * doc id as tie-break. The id is reduced mod the prime BEFORE the
    * multiply, so the product is ≤ ~2.7e18 and never overflows BIGINT on
    * any engine (unreduced, ids past ~3.5e9 would wrap in Spark, throw
    * under ANSI mode, and error in DuckDB — three engines, three
    * orderings).
    *
    * Scale shape: rank-≤-n over a window triggers Spark's WindowGroupLimit
    * pushdown (PlanSpec-locked): each input partition keeps only its own
    * top-n per source BEFORE the shuffle, so the exchange carries
    * O(n · sources · partitions) rows, never the corpus.
    */
  def fixedSample(spark: SparkSession, sfDir: String, n: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("hkey").asc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .withColumn("hkey", docHashKey)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("source"), col("rn"), col("doc_id"), col("lang"))
      .orderBy(col("source"), col("rn"))
  }

  def fixedSampleOracle(n: Int = 10): String =
    s"""SELECT source, rn, doc_id, lang FROM (
       |  SELECT source, doc_id, lang,
       |         CAST(row_number() OVER (
       |           PARTITION BY source
       |           ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007,
       |                    doc_id)
       |           AS INTEGER) AS rn
       |  FROM documents)
       |WHERE rn <= $n
       |ORDER BY source, rn""".stripMargin

  /** q103 — temperature-weighted source mixing: allocate a document budget
    * across sources proportional to p_i^α with α = 1/2 (the
    * multilingual-corpus "sampling temperature" recipe: upsample the tail,
    * downsample the head, published in the XLM-R / mC4 line of work). The
    * gate emits the allocation table a sampler executes: per source, its
    * corpus count, normalized weight, and the exact integer document
    * allocation.
    *
    * Determinism discipline: α = 1/2 is computed as `sqrt`, which IEEE 754
    * requires to be CORRECTLY ROUNDED (like +,×,÷ and unlike pow/exp/log —
    * the reason the α knob is fixed at 1/2 here rather than exposed as an
    * arbitrary exponent), then immediately scaled to an exact integer
    * weight `w = floor(sqrt(n) · 2^20)`. Everything after is integer
    * arithmetic — Hamilton (largest-remainder) apportionment: floor quotas
    * `B·w div Σw`, then one extra doc to the largest remainders (source
    * tie-break) until the budget is spent. Bit-identical on any engine and
    * any partitioning; no double ever crosses a sum.
    *
    * Overflow bounds: n ≤ 10^12 docs → w ≤ ~2^40; B·w at the default
    * budget ≤ ~2^54; Σw over 10^5 sources ≤ ~2^57 — all inside BIGINT.
    * B·w is the binding product, so the quota column GUARDS it: any row
    * where `budget > Long.Max / w` raises instead of silently wrapping
    * (non-ANSI Spark wraps multiplies). Budgets that trip the guard should
    * allocate in coarser units — e.g. thousands of documents — and scale
    * the result back up; the apportionment is scale-equivariant up to the
    * unit's rounding.
    *
    * Scale shape: ONE corpus-sized count aggregate; every later step runs
    * on source-cardinality rows (the two whole-frame windows see thousands
    * of rows at most, post-aggregation).
    */
  def sourceMixing(spark: SparkSession, sfDir: String, budget: Long = 10000L): DataFrame =
    mixingAllocation(
      Tables.documents(spark, sfDir)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs")),
      budget)

  /** The apportionment core of [[sourceMixing]], over any (source, n_docs)
    * counts frame — unit-testable against hand-computed allocations.
    */
  def mixingAllocation(counts: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val wAll = Window.partitionBy()
    counts
      .withColumn("w", floor(sqrt(col("n_docs")) * (1L << 20)).cast("long"))
      .withColumn("s", sum(col("w")).over(wAll))
      // the guard lives INSIDE the quota expression (a free-standing check
      // column would be pruned by Catalyst and never evaluated)
      .withColumn("q",
        when(col("w") > lit(Long.MaxValue / budget),
          raise_error(concat(lit("sourceMixing: budget * weight overflows BIGINT for source "),
            col("source"), lit(" — allocate in coarser units and scale up"))))
          .otherwise(expr(s"$budget * w")))
      .withColumn("base", expr("q div s"))
      .withColumn("rem", expr("q % s"))
      .withColumn("deficit", lit(budget) - sum(col("base")).over(wAll))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, col("source").asc)))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
      .select(
        col("source"), col("n_docs"),
        expr("w * 1000000L div s").as("weight_ppm"),
        col("alloc"))
      .orderBy(col("source"))
  }

  /** The Hamilton-apportionment CTE chain shared by [[sourceMixingOracle]]
    * and [[qualityBudgetFillOracle]] — one source of truth for the sqrt
    * weights, quotas, and the deficit/remainder tie-break, so a change to
    * the allocation SQL cannot land in one oracle and silently miss the
    * other.
    */
  private def hamiltonCtes(
      budget: Long,
      countExpr: String = "count(*)"): String =
    s"""counts AS (
       |  SELECT source, $countExpr AS n_docs FROM documents GROUP BY source),
       |w AS (
       |  SELECT source, n_docs,
       |         CAST(floor(sqrt(n_docs) * 1048576) AS BIGINT) AS w
       |  FROM counts),
       |t AS (SELECT *, CAST(sum(w) OVER () AS BIGINT) AS s FROM w),
       |q AS (SELECT *, ($budget * w) // s AS base, ($budget * w) % s AS rem
       |      FROM t),
       |d AS (
       |  SELECT *, $budget - CAST(sum(base) OVER () AS BIGINT) AS deficit,
       |         row_number() OVER (ORDER BY rem DESC, source) AS rk
       |  FROM q)""".stripMargin

  /** q134 — TOKEN-BUDGET EPOCH PLAN: turn a total training-token budget
    * into per-source token allocations AND repeat counts ("epochs", integer
    * permille) — the "4 epochs of Wikipedia, 0.3 epochs of CommonCrawl"
    * table of published LLM training recipes (repeating small high-quality
    * sources while subsampling the head is standard practice, and
    * data-constrained scaling work shows a few epochs of repetition trade
    * nearly at par with fresh tokens). The q103 temperature apportionment
    * re-run in the TOKEN domain: weights are sqrt of per-source token
    * counts, Hamilton largest-remainder assigns exact token quotas, and
    * `epochs_permille = alloc_tokens·1000 div n_tokens` states how many
    * passes over the source its quota implies (>1000 = repetition).
    *
    * Determinism: the one sqrt is correctly rounded then floored to an
    * integer weight (the q103 argument); every other step is BIGINT
    * arithmetic with source tie-breaks. A zero-token source yields NULL
    * epochs (its allocation is unschedulable, surfaced rather than
    * divided-by-zero) on both engines.
    *
    * Scale shape: ONE corpus aggregate (per-source exact token sums,
    * map-side partials); apportionment and the epoch division run on
    * source-cardinality rows — identical to q103's shape, nothing
    * corpus-sized past the first aggregate.
    */
  def epochPlan(
      spark: SparkSession,
      sfDir: String,
      budgetTokens: Long = 50000L): DataFrame =
    epochAllocation(
      Tables.documents(spark, sfDir)
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_docs")),
      budgetTokens)

  /** The epoch-plan core over any (source, n_docs = token count) frame —
    * [[mixingAllocation]]'s apportionment re-labeled to the token domain
    * plus the repeats division (shared code path: an apportionment fix
    * lands in both q103 and q134).
    */
  def epochAllocation(tokenCounts: DataFrame, budgetTokens: Long): DataFrame =
    mixingAllocation(tokenCounts, budgetTokens)
      .withColumn("epochs_permille",
        when(col("n_docs") === 0L, lit(null).cast("long"))
          .otherwise(expr("alloc * 1000L div n_docs")))
      .select(
        col("source"), col("n_docs").as("n_tokens"), col("weight_ppm"),
        col("alloc").as("alloc_tokens"), col("epochs_permille"))
      .orderBy(col("source"))

  def epochPlanOracle(budgetTokens: Long = 50000L): String =
    s"""WITH ${hamiltonCtes(budgetTokens,
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT)")}
       |SELECT source, n_docs AS n_tokens, (w * 1000000) // s AS weight_ppm,
       |       base + (CASE WHEN rk <= deficit THEN 1 ELSE 0 END)
       |         AS alloc_tokens,
       |       CASE WHEN n_docs = 0 THEN NULL ELSE
       |         ((base + (CASE WHEN rk <= deficit THEN 1 ELSE 0 END)) * 1000)
       |           // n_docs END AS epochs_permille
       |FROM d ORDER BY source""".stripMargin

  def sourceMixingOracle(budget: Long = 10000L): String =
    s"""WITH ${hamiltonCtes(budget)}
       |SELECT source, n_docs, (w * 1000000) // s AS weight_ppm,
       |       base + (CASE WHEN rk <= deficit THEN 1 ELSE 0 END) AS alloc
       |FROM d ORDER BY source""".stripMargin

  /** q111 — deterministic TRAINING-ORDER shuffle: give every document a
    * (shard, position) under a pseudo-random but fully reproducible global
    * permutation — the "shuffle the corpus before training" step every run
    * needs (and needs to be able to REPLAY for a restarted or elastically
    * re-sharded job). No `rand()` anywhere: the order key is the same
    * engine-independent multiplicative hash as the q70/q99 family (id
    * reduced mod the prime BEFORE the multiply, so the product never
    * overflows BIGINT on any engine), with the stable id as tie-break.
    * Global training order is (shard asc, position asc) — a deterministic
    * permutation of the corpus.
    *
    * Scale shape: the shard assignment is a narrow map; the only corpus
    * exchange is the hash partition BY SHARD — which is exactly the write
    * partitioning a training pipeline wants, so the shuffle does double
    * duty. Positions are a per-shard rank: one window per shard, all shards
    * sorting in parallel, each over corpus/numShards rows. `numShards`
    * scales with the corpus (pick shards of a few hundred MB each), so
    * per-shard sort memory AND the position values stay bounded — at 10^10
    * docs and 10^4 shards each window ranks ~10^6 rows. No global sort, no
    * single-partition window anywhere. The gate emits the per-shard summary
    * with an order-sensitive checksum (`Σ position·n_chars` — any
    * transposition of two docs with different lengths changes it), plus the
    * head doc id; bounded positions keep the checksum terms ≤ ~2^41 and the
    * per-shard sum ≤ ~2^61, inside BIGINT.
    */
  def trainingOrderAssignments(
      spark: SparkSession, sfDir: String, numShards: Int = 16): DataFrame = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    Tables.documents(spark, sfDir)
      .withColumn("hkey", docHashKey)
      .withColumn("shard", pmod(col("hkey"), lit(numShards.toLong)))
      .withColumn("position",
        row_number().over(
          Window.partitionBy(col("shard"))
            .orderBy(col("hkey").asc, col("doc_id").asc)).cast("long"))
  }

  def trainingOrder(
      spark: SparkSession, sfDir: String, numShards: Int = 16): DataFrame =
    trainingOrderAssignments(spark, sfDir, numShards)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("position") * col("n_chars")).as("order_check"),
        sum(when(col("position") === 1L, col("doc_id"))).as("first_doc"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy(col("shard"))

  def trainingOrderOracle(numShards: Int = 16): String =
    s"""WITH a AS (
       |  SELECT doc_id, n_chars,
       |         ((doc_id % 1000000007) * 2654435761) % 1000000007 AS hkey
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, n_chars, hkey % $numShards AS shard,
       |         CAST(row_number() OVER (
       |           PARTITION BY hkey % $numShards ORDER BY hkey, doc_id)
       |           AS BIGINT) AS position
       |  FROM a)
       |SELECT shard, count(*) AS n_docs,
       |       CAST(sum(position * n_chars) AS BIGINT) AS order_check,
       |       CAST(sum(CASE WHEN position = 1 THEN doc_id END) AS BIGINT)
       |         AS first_doc,
       |       CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM p GROUP BY shard ORDER BY shard""".stripMargin

  /** q122 — QUALITY-AWARE BUDGET FILL: execute the [[sourceMixing]]
    * allocation against a quality ranking — per source, keep its `alloc`
    * highest-quality documents (quality = integer-ppm type-token ratio, the
    * q31 diversity heuristic: boilerplate and word-soup repetition rank
    * low). This is the step that turns the q103 allocation TABLE into an
    * actual training-mix document set: temperature mixing says how many
    * docs each source contributes, the quality rank says WHICH ones.
    *
    * Determinism discipline: quality is `n_distinct·1e6 div n_tokens` —
    * pure BIGINT arithmetic, no doubles anywhere (the sqrt inside the
    * allocation is the one correctly-rounded exception, same as q103);
    * ranking ties break on doc_id.
    *
    * Scale shape (100 TB): the quality score is a narrow per-doc map; the
    * one corpus exchange is the hash partition by source feeding the
    * per-source rank windows (all sources rank in parallel). The rank
    * filter is applied in two stages: first against the PLAN-TIME literal
    * `max(alloc)` — a bounded driver-side collect of the source-cardinality
    * allocation table, which lets Catalyst rewrite the window into a
    * WindowGroupLimit (per-partition top-k heap: executors keep max-alloc
    * rows per source in memory instead of sorting whole source shards —
    * PlanSpec-locked), then exactly against the broadcast per-source
    * `alloc` column. A source with fewer documents than its allocation
    * under-fills (no reallocation round; the allocation is the CAP, the
    * contract a sampler executing q103's table has anyway).
    */
  def qualityBudgetFill(
      spark: SparkSession, sfDir: String, budget: Long = 200L): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // ONE corpus pass for the allocation: collect the source-cardinality
    // allocation table (the same bounded-collect budget that funds
    // maxAlloc) and rebuild it as a local relation, so the corpus count
    // aggregate is not re-executed inside the join subtree of the main
    // query.
    val allocRows = mixingAllocation(
        docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs")), budget)
      .select(col("source"), col("alloc")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val maxAlloc = (0L +: allocRows.map(_._2)).max
    val alloc = allocRows.toDF("source", "alloc")
    val toks = Text.tokens(col("text"))
    docs
      .select(col("source"), col("doc_id"),
        (size(array_distinct(toks)).cast("long") * 1000000L).as("qn"),
        size(toks).cast("long").as("qd"))
      .select(col("source"), col("doc_id"), expr("qn div qd").as("q_ppm"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("q_ppm").desc, col("doc_id").asc)))
      // row_number is Int, so the plan-time bound clamps at Int.MaxValue —
      // a larger allocation cannot wrap the literal (the exact per-source
      // cut below still applies the full Long alloc)
      .filter(col("rn") <= lit(math.min(maxAlloc, Int.MaxValue.toLong).toInt))
      .join(broadcast(alloc), "source")
      .filter(col("rn") <= col("alloc"))
      .select(col("source"), col("doc_id"), col("q_ppm"), col("rn"))
      .orderBy(col("source"), col("rn"))
  }

  def qualityBudgetFillOracle(budget: Long = 200L): String =
    s"""WITH ${hamiltonCtes(budget)},
       |a AS (
       |  SELECT source,
       |         base + (CASE WHEN rk <= deficit THEN 1 ELSE 0 END) AS alloc
       |  FROM d),
       |sc AS (
       |  SELECT source, doc_id,
       |         (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
       |            * 1000000)
       |           // CAST(len(string_split(text, ' ')) AS BIGINT) AS q_ppm
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, q_ppm,
       |         CAST(row_number() OVER (
       |           PARTITION BY source ORDER BY q_ppm DESC, doc_id)
       |           AS INTEGER) AS rn
       |  FROM sc)
       |SELECT r.source, doc_id, q_ppm, rn
       |FROM r JOIN a ON r.source = a.source
       |WHERE rn <= alloc
       |ORDER BY r.source, rn""".stripMargin

  /** q49 — doc GET by id (SURVEY §2.B scans row): the point lookup the
    * parquet source serves via row-group min/max stats — the pushed
    * `doc_id = 42` predicate skips every row group whose id range excludes
    * it (PlanSpec asserts the PushedFilters entry). At 100 TB with an
    * id-sorted layout this touches one row group of one file.
    */
  def docGet(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 42)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .orderBy(col("doc_id"))

  val docGetOracle: String =
    """SELECT doc_id, lang, n_chars, text
      |FROM documents
      |WHERE doc_id = 42
      |ORDER BY doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q49_doc_get" -> (docGet _),
    "q52_json_source" -> (jsonSource _),
    "q53_csv_source" -> (csvSource _),
    "q69_orc_source" -> (orcSource _),
    "q179_xml_source" -> (xmlSource _),
    "q70_train_split" -> (trainSplit _),
    "q81_stratified_sample" -> (stratifiedSample _),
    "q99_fixed_sample" -> ((s: SparkSession, d: String) => fixedSample(s, d)),
    "q86_pack_sequences" -> ((s: SparkSession, d: String) => packSequences(s, d)),
    "q186_pps_sample" -> ((s: SparkSession, d: String) => ppsSample(s, d)),
    // rows-only: BFD greedy packing is not SQL-expressible; driver-model
    // equality + budget-respect specs pin it, DetCheck pins partitioning
    // independence
    "q188_bestfit_pack" -> ((s: SparkSession, d: String) => bestFitPack(s, d)),
    "q103_source_mixing" -> ((s: SparkSession, d: String) => sourceMixing(s, d)),
    "q134_epoch_plan" -> ((s: SparkSession, d: String) => epochPlan(s, d)),
    "q111_training_order" -> ((s: SparkSession, d: String) => trainingOrder(s, d)),
    "q122_quality_fill" -> ((s: SparkSession, d: String) => qualityBudgetFill(s, d)))

  val oracles: Map[String, String] = Map(
    "q49_doc_get" -> docGetOracle,
    "q52_json_source" -> jsonSourceOracle,
    "q53_csv_source" -> csvSourceOracle,
    "q69_orc_source" -> orcSourceOracle,
    "q179_xml_source" -> xmlSourceOracle,
    "q70_train_split" -> trainSplitOracle,
    "q81_stratified_sample" -> stratifiedSampleOracle,
    "q99_fixed_sample" -> fixedSampleOracle(),
    "q86_pack_sequences" -> packSequencesOracle,
    "q186_pps_sample" -> ppsSampleOracle(),
    "q103_source_mixing" -> sourceMixingOracle(),
    "q134_epoch_plan" -> epochPlanOracle(),
    "q111_training_order" -> trainingOrderOracle(),
    "q122_quality_fill" -> qualityBudgetFillOracle())
}
