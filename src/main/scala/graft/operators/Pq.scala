package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import org.apache.spark.sql.graft.VectorExpressions

/** Product quantization ANN — the memory-bounded scale path for embedding
  * search (PAPERS.md: Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011 — public method).
  *
  * The 64-d float corpus (256 B/vector) is encoded to M=8 one-byte codes
  * (8 B/vector, 32× smaller): the vector is split into M subspaces and each
  * subvector is replaced by the id of its nearest centroid in a per-subspace
  * codebook of K=16 entries. Search runs in two phases:
  *
  *   1. ADC scan: per query, precompute an M×K lookup table of squared L2
  *      distances between the query's subvectors and every codebook entry
  *      (M·K·subdim flops, driver-side, broadcast); the approximate distance
  *      of a corpus vector is then M table lookups + adds over its CODES —
  *      the full float vector is never touched. Top-k1 candidates per query.
  *   2. Exact re-rank: true L2 on the k1 candidates only, top-k2.
  *
  * Scale notes (100 TB): encoding is a narrow map over a broadcast codebook
  * (like [[Lsh.withHashes]]); the ADC scan reads only the 8-byte code column
  * (column pruning keeps embeddings out of the scan — the working set shrinks
  * 32×, which is the entire point at 100 TB); candidate selection is the
  * standard window top-k with WindowGroupLimit pushdown; only k1 rows per
  * query ever read a real vector. Composes with IVF (classic IVF-PQ: coarse
  * cells prune the scan, PQ codes shrink what remains) — the cell layout in
  * [[Vectors.buildIvfIndex]] would simply store codes instead of embeddings.
  *
  * Training is deterministic: per-subspace Lloyd k-means on the first
  * `sampleN` vectors by id, seeded by the first K sample subvectors, fixed
  * iteration count, ties broken by lowest code — bitwise reproducible on any
  * cluster layout (same discipline as [[Lsh.fit]] / [[Vectors.quantizer]]).
  */
object Pq {

  /** codebooks(m)(k) = centroid k of subspace m (length subdim). */
  case class PqModel(m: Int, k: Int, subdim: Int, codebooks: Array[Array[Array[Float]]]) {

    def encode(v: Array[Float]): Array[Byte] = {
      require(v.length == m * subdim, s"dim ${v.length} != m*subdim ${m * subdim}")
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) {
        out(s) = nearestCode(v, s).toByte
        s += 1
      }
      out
    }

    /** [[encode]] reading catalyst array storage directly — shared by the
      * interpreted eval and codegen paths of the PqEncode expression (no
      * per-row Seq boxing or float-array copy; same loop order, so codes
      * are bit-identical to the array variant — asserted in PqSpec).
      */
    def encodeArrayData(v: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
      require(v.numElements() == m * subdim,
        s"dim ${v.numElements()} != m*subdim ${m * subdim}")
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val cb = codebooks(s)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          var d = 0.0
          var i = 0
          while (i < subdim) {
            val x = v.getFloat(s * subdim + i).toDouble - cb(c)(i).toDouble
            d += x * x
            i += 1
          }
          if (d < bestD) { bestD = d; best = c } // strict < ⇒ lowest code wins ties
          c += 1
        }
        out(s) = best.toByte
        s += 1
      }
      out
    }

    private def nearestCode(v: Array[Float], s: Int): Int = {
      val cb = codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        var d = 0.0
        var i = 0
        while (i < subdim) {
          val x = v(s * subdim + i).toDouble - cb(c)(i).toDouble
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c } // strict < ⇒ lowest code wins ties
        c += 1
      }
      best
    }

    /** ADC lookup table for one query: lut(s)(c) = ||q_s − codebook[s][c]||². */
    def lut(q: Array[Float]): Array[Array[Double]] =
      Array.tabulate(m) { s =>
        Array.tabulate(k) { c =>
          var d = 0.0
          var i = 0
          while (i < subdim) {
            val x = q(s * subdim + i).toDouble - codebooks(s)(c)(i).toDouble
            d += x * x
            i += 1
          }
          d
        }
      }

    def adc(lut: Array[Array[Double]], codes: Array[Byte]): Double = {
      var d = 0.0
      var s = 0
      while (s < m) {
        d += lut(s)(codes(s) & 0xff)
        s += 1
      }
      d
    }
  }

  /** Per-query ADC lookup tables as a plan reference object (|Q|·M·K
    * doubles) — carried into the codegen [[org.apache.spark.sql.graft
    * .VectorExpressions.AdcDistance]] expression so the code-column scan
    * never leaves whole-stage codegen.
    */
  case class AdcTables(model: PqModel, luts: Map[Long, Array[Array[Double]]]) {
    def adc(qid: Long, codes: Array[Byte]): Double = model.adc(luts(qid), codes)
  }

  /** Deterministic per-subspace Lloyd k-means over the first `sampleN`
    * vectors by id (driver-side — the sample is K·multiples small, the same
    * footprint class as the LSH fit sample).
    */
  def fit(
      embeddings: DataFrame,
      m: Int = 8,
      k: Int = 16,
      sampleN: Int = 256,
      iterations: Int = 10): PqModel = {
    val rows = embeddings.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(sampleN).collect()
    require(rows.length >= k, s"PQ fit needs >= $k sample vectors, got ${rows.length}")
    val sample = rows.map(_.getSeq[Float](1).toArray)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subdim = dim / m
    val codebooks = Array.tabulate(m) { s =>
      val subs = sample.map(v => v.slice(s * subdim, (s + 1) * subdim))
      kmeans(subs, k, iterations)
    }
    PqModel(m, k, subdim, codebooks)
  }

  /** Plain Lloyd iterations; seeds = first k points; an empty cluster keeps
    * its previous centroid. All-double accumulation in a fixed order over the
    * sample array ⇒ bitwise deterministic.
    */
  private def kmeans(points: Array[Array[Float]], k: Int, iterations: Int): Array[Array[Float]] = {
    val d = points(0).length
    var cents = Array.tabulate(k)(i => points(i).clone())
    var it = 0
    while (it < iterations) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0
          var i = 0
          while (i < d) {
            val x = p(i).toDouble - cents(c)(i).toDouble
            dist += x * x
            i += 1
          }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(d)(i => (sums(c)(i) / counts(c)).toFloat)
      }
      it += 1
    }
    cents
  }

  /** (vec_id, codes) — the encoded corpus. A codegen narrow map with the
    * model riding the plan as a reference object; the output column is M
    * bytes versus M·subdim·4 for the floats. At corpus scale this map IS
    * the ingest cost of a PQ index — no per-row UDF boxing.
    */
  def encode(spark: SparkSession, emb: DataFrame, model: PqModel): DataFrame =
    emb.select(col("vec_id"), VectorExpressions.pqEncode(col("embedding"), model).as("codes"))

  /** Query-side state shared by every PQ search path: collected query rows,
    * their ADC tables, and the two small broadcast relations. One definition
    * so the tie-breaks and rounding that PqSpec's parity tests pin can never
    * drift between the flat, persisted, and IVF-PQ paths.
    */
  private[operators] case class QuerySide(
      rows: Array[org.apache.spark.sql.Row],
      adcTables: AdcTables,
      queries: DataFrame,
      qvecs: DataFrame)

  private def querySide(
      spark: SparkSession,
      emb: DataFrame,
      model: PqModel,
      queryMaxId: Long): QuerySide = {
    import spark.implicits._
    val qRows = emb.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id"), col("embedding")).collect()
    val luts: Map[Long, Array[Array[Double]]] =
      qRows.map(r => r.getLong(0) -> model.lut(r.getSeq[Float](1).toArray)).toMap
    QuerySide(
      qRows,
      AdcTables(model, luts),
      qRows.map(_.getLong(0)).toSeq.toDF("query_id"),
      qRows.toSeq.map(r => (r.getLong(0), r.getSeq[Float](1))).toDF("query_id", "qv"))
  }

  /** Phase 1: ADC-score a (query_id, vec_id, codes) frame, keep top-k1 per
    * query (ties by vec_id) as (query_id, vec_id) for [[Knn.rerank]].
    */
  private def adcTopK1(paired: DataFrame, q: QuerySide, k1: Int): DataFrame = {
    val wK1 = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist").asc, col("vec_id").asc)
    paired
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        VectorExpressions.adc(col("query_id"), col("codes"), q.adcTables).as("approx_dist"))
      .withColumn("r1", row_number().over(wK1))
      .filter(col("r1") <= k1)
      .select(col("query_id"), col("vec_id"))
  }

  private def writePqModel(spark: SparkSession, model: PqModel, dir: String): Unit = {
    import spark.implicits._
    Seq((model.m, model.k, model.subdim,
        model.codebooks.map(_.map(_.toSeq).toSeq).toSeq))
      .toDF("m", "k", "subdim", "codebooks")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
  }

  /** q64 — PQ ANN (no SQL oracle — model-dependent; pinned by PqSpec recall
    * + compression tests): ADC scan over codes → top-k1 → exact re-rank →
    * top-k2. Output shape matches the other ANN gates.
    */
  def annPq(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10,
      m: Int = 8,
      k: Int = 16): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val model = fit(emb, m, k)
    val codes = encode(spark, emb, model)
    val q = querySide(spark, emb, model, queryMaxId)
    // ADC scan: |Q| passes over the CODE column only (queries broadcast).
    val candidates = adcTopK1(codes.crossJoin(broadcast(q.queries)), q, k1)
    Knn.rerank(candidates, emb, q.qvecs, k2, collapseDuplicates = false)
  }

  /** Persisted PQ index: `model/` (codebooks, one row) + `codes/`
    * (vec_id, codes) — the artifact a real deployment scans. The codes
    * parquet is 32× smaller than the vectors parquet; an ADC scan over it
    * never touches an embedding byte (PlanSpec asserts the ReadSchema).
    */
  def buildPqIndex(spark: SparkSession, emb: DataFrame, model: PqModel, outDir: String): Unit = {
    Lifecycle.resetMarkers(spark, outDir) // stale markers would kill batch-0 rows
    writePqModel(spark, model, s"$outDir/model")
    encode(spark, emb, model)
      .withColumn(Lifecycle.BatchCol, lit(0L))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$outDir/codes")
    // Post-write bump: see Index.build — no pre-rebuild memo may survive.
    graft.Readers.bump()
  }

  /** Incremental PQ ingest: encode NEW vectors with the STORED codebooks and
    * append their codes. Same lifecycle semantics as [[Index.append]]
    * (upsert supersede + tombstone resurface, shared via [[Lifecycle]]).
    * Codebooks are frozen at build time — refitting would invalidate every
    * stored code; distribution drift is a periodic-rebuild concern.
    */
  def appendPqIndex(spark: SparkSession, indexDir: String, newVectors: DataFrame): Unit =
    Lifecycle.appendWith(spark, indexDir, newVectors,
      adoptParts = Seq("codes" -> Nil),
      stored = spark.read.parquet(s"$indexDir/codes")) { batch =>
      val model = loadPqModel(spark, s"$indexDir/model")
      encode(spark, newVectors, model)
        .withColumn(Lifecycle.BatchCol, lit(batch))
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$indexDir/codes")
    }

  def deleteFromPqIndex(spark: SparkSession, indexDir: String, ids: Seq[Long]): Unit =
    Lifecycle.delete(spark, indexDir, ids)

  /** Purging compaction of the flat code table. See [[Lifecycle.vacuum]]. */
  def vacuumPqIndex(spark: SparkSession, indexDir: String): Unit =
    Lifecycle.vacuum(spark, indexDir, Seq("codes" -> Nil))

  /** Purging compaction of the cell-partitioned IVF-PQ code table. */
  def vacuumIvfPqIndex(spark: SparkSession, indexDir: String): Unit =
    Lifecycle.vacuum(spark, indexDir, Seq("codes" -> Seq("cell")))

  /** The live code table (tombstones and superseded versions filtered out;
    * plain scan until the first delete / re-ingest).
    */
  def liveCodes(spark: SparkSession, indexDir: String): DataFrame =
    Lifecycle.live(spark, indexDir, graft.Readers.parquet(spark, s"$indexDir/codes"))

  /** Per-JVM memo of a persisted model doc via [[graft.Readers.artifact]]
    * — the search paths load per invocation, and an unmemoized load is a
    * driver collect job each time; any lifecycle mutation bumps and clears
    * the entry.
    */
  def loadPqModel(spark: SparkSession, dir: String): PqModel =
    graft.Readers.artifact(spark, dir) {
      val r = spark.read.parquet(dir).collect()(0)
      val cbs = r.getSeq[scala.collection.Seq[scala.collection.Seq[Float]]](3)
        .map(_.map(_.toArray).toArray).toArray
      PqModel(r.getInt(0), r.getInt(1), r.getInt(2), cbs)
    }

  /** Build-once cache keyed like [[Index.ensure]]. */
  def ensurePqIndex(spark: SparkSession, sfDir: String, m: Int = 8, k: Int = 16): String = {
    val srcSig = graft.Tables.fixtureSig(spark, s"$sfDir/embeddings.parquet")
    val key = Index.cacheKey(s"$sfDir:$srcSig:pq:$m:$k:v${Index.LayoutVersion}")
    val dir = new java.io.File(sys.props("java.io.tmpdir"), s"graft-pq-index-$key")
    if (!new java.io.File(dir, "codes/_SUCCESS").exists())
      buildPqIndex(spark, Tables.embeddings(spark, sfDir), fit(Tables.embeddings(spark, sfDir), m, k), dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  /** q71 — PQ ANN against the PERSISTED code table: identical semantics to
    * [[annPq]] (same deterministic fit ⇒ same codes ⇒ same results, asserted
    * in PqSpec), but phase 1 scans `codes/` — an 8-byte column per vector —
    * and only the k1 re-rank rows ever read a real embedding. This is the
    * plan that holds at 100 TB: the ADC pass streams a 32×-compressed
    * working set through whole-stage codegen with the query LUTs riding the
    * closure.
    */
  def annPqIndexed(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10,
      m: Int = 8,
      k: Int = 16): DataFrame = {
    val indexDir = ensurePqIndex(spark, sfDir, m, k)
    val model = loadPqModel(spark, s"$indexDir/model")
    val codes = liveCodes(spark, indexDir)
    val emb = Tables.embeddings(spark, sfDir)
    val q = querySide(spark, emb, model, queryMaxId)
    val candidates = adcTopK1(codes.crossJoin(broadcast(q.queries)), q, k1)
    Knn.rerank(candidates, emb, q.qvecs, k2, collapseDuplicates = false)
  }

  /** The phase-1 ADC candidate scan in isolation (plan-inspection surface
    * for PlanSpec: its ReadSchema must contain codes and never embedding).
    */
  def adcScanPlan(spark: SparkSession, sfDir: String, queryMaxId: Long = 8): DataFrame = {
    val indexDir = ensurePqIndex(spark, sfDir)
    val model = loadPqModel(spark, s"$indexDir/model")
    val codes = liveCodes(spark, indexDir)
    val q = querySide(spark, Tables.embeddings(spark, sfDir), model, queryMaxId)
    codes.crossJoin(broadcast(q.queries))
      .select(col("query_id"), col("vec_id"),
        VectorExpressions.adc(col("query_id"), col("codes"), q.adcTables).as("approx_dist"))
  }

  /** Scalar quantization (SQ8): each float32 dimension quantized to one byte
    * on a per-dimension [min, max] grid — 4× compression with much higher
    * per-dimension fidelity than PQ (256 levels per dim vs 16 centroids per
    * 8-dim subspace). The standard middle rung of the compression ladder
    * (flat 1× / SQ8 4× / PQ 32×, as in FAISS's public IndexScalarQuantizer):
    * pick SQ8 when memory allows 1 byte/dim and recall must stay near-exact.
    *
    * Search reuses the ENTIRE ADC machinery: SQ8 is exactly PQ with m=dim
    * one-dimensional subspaces and a K=256 arithmetic codebook
    * (codebook[i][c] = min_i + c·scale_i), so [[SqModel.asPqModel]] feeds the
    * same LUT build, codegen ADC scan, and exact re-rank as q64/q71 — one
    * search implementation, three compression formats. Encoding is NOT the
    * generic O(K) argmin though: the grid is arithmetic, so the code is a
    * direct O(1) rint((x−min)/scale) per dimension ([[SqModel
    * .encodeArrayData]], codegen via Sq8Encode) — at 100 TB encode is the
    * whole ingest cost and a 256× argmin would dominate it.
    */
  case class SqModel(dim: Int, mins: Array[Float], scales: Array[Double]) {

    def encodeArrayData(v: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
      require(v.numElements() == dim, s"dim ${v.numElements()} != $dim")
      val out = new Array[Byte](dim)
      var i = 0
      while (i < dim) {
        val s = scales(i)
        val c =
          if (s == 0.0) 0 // constant dimension: every value decodes to min
          else {
            val x = math.rint((v.getFloat(i).toDouble - mins(i).toDouble) / s)
            if (x < 0.0) 0 else if (x > 255.0) 255 else x.toInt
          }
        out(i) = c.toByte
        i += 1
      }
      out
    }

    /** The equivalent PQ view (decode value of code c in dim i is
      * min_i + c·scale_i, stored as Float like every corpus value) — lets
      * SQ8 search reuse LUTs, the ADC codegen scan, and re-rank unchanged.
      */
    def asPqModel: PqModel = PqModel(dim, 256, 1,
      Array.tabulate(dim)(i =>
        Array.tabulate(256)(c => Array((mins(i) + c * scales(i)).toFloat))))
  }

  /** Per-dimension [min, max] over the corpus: one narrow posexplode + a
    * dim-keyed partial aggregate (map-side combined; 64 groups move per
    * partition regardless of corpus size). min/max are order-independent, so
    * the model is bitwise identical on any partitioning — same determinism
    * class as [[fit]].
    */
  def fitSq(emb: DataFrame): SqModel = {
    val rows = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("pos")).collect()
    SqModel(
      rows.length,
      rows.map(_.getFloat(1)),
      rows.map(r => (r.getFloat(2).toDouble - r.getFloat(1).toDouble) / 255.0))
  }

  def encodeSq(spark: SparkSession, emb: DataFrame, model: SqModel): DataFrame =
    emb.select(col("vec_id"),
      VectorExpressions.sq8Encode(col("embedding"), model).as("codes"))

  /** q90 — SQ8 ANN (no SQL oracle — quantization-dependent; pinned by
    * PqSpec's code-bound, near-exact-recall, and full-rank-parity tests):
    * asymmetric-distance scan over the 1-byte-per-dim codes → top-k1 →
    * exact re-rank → top-k2. Output shape matches the other ANN gates.
    */
  def annSq8(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val sq = fitSq(emb)
    val codes = encodeSq(spark, emb, sq)
    val q = querySide(spark, emb, sq.asPqModel, queryMaxId)
    val candidates = adcTopK1(codes.crossJoin(broadcast(q.queries)), q, k1)
    Knn.rerank(candidates, emb, q.qvecs, k2, collapseDuplicates = false)
  }

  /** Persisted SQ8 index: `model/` (dim, mins, scales — one row) + `codes/`
    * (vec_id, codes), 4× smaller than the vectors parquet. Same [[Lifecycle]]
    * semantics as the PQ layout (append with frozen grid, upsert supersede,
    * tombstone delete, purging vacuum): the grid is fixed at build time —
    * requantizing would invalidate every stored code, so distribution drift
    * is a periodic-rebuild concern exactly as for PQ codebooks.
    */
  def buildSqIndex(spark: SparkSession, emb: DataFrame, model: SqModel, outDir: String): Unit = {
    Lifecycle.resetMarkers(spark, outDir) // stale markers would kill batch-0 rows
    writeSqModel(spark, model, s"$outDir/model")
    encodeSq(spark, emb, model)
      .withColumn(Lifecycle.BatchCol, lit(0L))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$outDir/codes")
    // Post-write bump: see Index.build — no pre-rebuild memo may survive.
    graft.Readers.bump()
  }

  def appendSqIndex(spark: SparkSession, indexDir: String, newVectors: DataFrame): Unit =
    Lifecycle.appendWith(spark, indexDir, newVectors,
      adoptParts = Seq("codes" -> Nil),
      stored = spark.read.parquet(s"$indexDir/codes")) { batch =>
      val model = loadSqModel(spark, s"$indexDir/model")
      encodeSq(spark, newVectors, model)
        .withColumn(Lifecycle.BatchCol, lit(batch))
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$indexDir/codes")
    }

  def deleteFromSqIndex(spark: SparkSession, indexDir: String, ids: Seq[Long]): Unit =
    Lifecycle.delete(spark, indexDir, ids)

  def vacuumSqIndex(spark: SparkSession, indexDir: String): Unit =
    Lifecycle.vacuum(spark, indexDir, Seq("codes" -> Nil))

  def liveSqCodes(spark: SparkSession, indexDir: String): DataFrame =
    Lifecycle.live(spark, indexDir, graft.Readers.parquet(spark, s"$indexDir/codes"))

  private[graft] def writeSqModel(spark: SparkSession, model: SqModel, dir: String): Unit = {
    import spark.implicits._
    Seq((model.dim, model.mins.toSeq, model.scales.toSeq))
      .toDF("dim", "mins", "scales")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
  }

  /** Per-JVM artifact memo — see [[loadPqModel]]. */
  def loadSqModel(spark: SparkSession, dir: String): SqModel =
    graft.Readers.artifact(spark, dir) {
      val r = spark.read.parquet(dir).collect()(0)
      SqModel(r.getInt(0), r.getSeq[Float](1).toArray, r.getSeq[Double](2).toArray)
    }

  /** Build-once cache keyed like [[ensurePqIndex]]. */
  def ensureSqIndex(spark: SparkSession, sfDir: String): String = {
    val srcSig = graft.Tables.fixtureSig(spark, s"$sfDir/embeddings.parquet")
    val key = Index.cacheKey(s"$sfDir:$srcSig:sq8:v${Index.LayoutVersion}")
    val dir = new java.io.File(sys.props("java.io.tmpdir"), s"graft-sq-index-$key")
    if (!new java.io.File(dir, "codes/_SUCCESS").exists()) {
      val emb = Tables.embeddings(spark, sfDir)
      buildSqIndex(spark, emb, fitSq(emb), dir.getAbsolutePath)
    }
    dir.getAbsolutePath
  }

  /** q91 — SQ8 ANN against the PERSISTED code table: identical semantics to
    * [[annSq8]] (deterministic fit ⇒ same codes ⇒ same results, spec-pinned),
    * but the distance pass scans `codes/` — 1 byte per dimension — and only
    * the k1 re-rank rows read a real embedding. The 100 TB plan: a
    * 4×-compressed scan through whole-stage codegen (PlanSpec asserts the
    * codes-only ReadSchema), near-exact recall.
    */
  def annSq8Indexed(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10): DataFrame = {
    val indexDir = ensureSqIndex(spark, sfDir)
    val model = loadSqModel(spark, s"$indexDir/model")
    val emb = Tables.embeddings(spark, sfDir)
    val q = querySide(spark, emb, model.asPqModel, queryMaxId)
    val candidates = adcTopK1(liveSqCodes(spark, indexDir).crossJoin(broadcast(q.queries)), q, k1)
    Knn.rerank(candidates, emb, q.qvecs, k2, collapseDuplicates = false)
  }

  /** The SQ8 phase-1 scan in isolation (PlanSpec: ReadSchema must contain
    * codes and never embedding — the 4× working-set reduction is the point).
    */
  def sqScanPlan(spark: SparkSession, sfDir: String, queryMaxId: Long = 8): DataFrame = {
    val indexDir = ensureSqIndex(spark, sfDir)
    val model = loadSqModel(spark, s"$indexDir/model")
    val q = querySide(spark, Tables.embeddings(spark, sfDir), model.asPqModel, queryMaxId)
    liveSqCodes(spark, indexDir).crossJoin(broadcast(q.queries))
      .select(col("query_id"), col("vec_id"),
        VectorExpressions.adc(col("query_id"), col("codes"), q.adcTables).as("approx_dist"))
  }

  /** Persisted IVF-PQ index: the classic composition (Jégou et al. §IVFADC)
    * — `centroids/` (the IVF coarse quantizer), `model/` (PQ codebooks), and
    * `codes/` (vec_id, codes) PARTITIONED BY cell. A query prunes to nprobe
    * cell directories (static partition filter, like [[Vectors.annIvfIndexed]])
    * and ADC-scans only those cells' 8-byte codes: the two multiplicative
    * reductions — read 1/C of the corpus, at 1/32 the bytes — compose.
    */
  def buildIvfPqIndex(
      spark: SparkSession,
      emb: DataFrame,
      cells: Int,
      m: Int,
      k: Int,
      outDir: String): Unit =
    buildIvfPqIndexWith(spark, emb, Vectors.quantizer(spark, emb, cells), fit(emb, m, k), outDir)

  /** Build with externally trained models — the rebuild twin of
    * [[appendIvfPqIndex]], so append ≡ rebuild is testable under one fixed
    * (quantizer, codebook) pair.
    */
  def buildIvfPqIndexWith(
      spark: SparkSession,
      emb: DataFrame,
      cents: CentroidSet,
      pq: PqModel,
      outDir: String): Unit = {
    Lifecycle.resetMarkers(spark, outDir) // stale markers would kill batch-0 rows
    import spark.implicits._
    cents.ids.zip(cents.vecs.map(_.toSeq)).toSeq
      .toDF("cell", "centroid")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$outDir/centroids")
    writePqModel(spark, pq, s"$outDir/model")
    encodedCells(emb, cents, pq)
      .withColumn(Lifecycle.BatchCol, lit(0L))
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(s"$outDir/codes")
    // Post-write bump: see Index.build — no pre-rebuild memo may survive.
    graft.Readers.bump()
  }

  private def encodedCells(emb: DataFrame, cents: CentroidSet, pq: PqModel): DataFrame =
    Vectors.assignCellsWith(emb, cents)
      .select(col("vec_id"),
        VectorExpressions.pqEncode(col("embedding"), pq).as("codes"), col("cell"))

  /** Incremental IVF-PQ ingest: assign cells with the STORED quantizer,
    * encode with the STORED codebooks, append to the touched cell
    * directories only. Both models frozen at build time (see
    * [[appendPqIndex]] / [[Vectors.appendIvfIndex]]).
    */
  def appendIvfPqIndex(spark: SparkSession, indexDir: String, newVectors: DataFrame): Unit =
    Lifecycle.appendWith(spark, indexDir, newVectors,
      adoptParts = Seq("codes" -> Seq("cell")),
      stored = spark.read.parquet(s"$indexDir/codes")) { batch =>
      val cents = Vectors.loadCentroids(spark, s"$indexDir/centroids")
      val pq = loadPqModel(spark, s"$indexDir/model")
      encodedCells(newVectors, cents, pq)
        .withColumn(Lifecycle.BatchCol, lit(batch))
        .repartition(col("cell"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("cell")
        .parquet(s"$indexDir/codes")
    }

  /** The live cell-partitioned code table — cell cast back to long (the
    * partition column is inference-typed on read).
    */
  def liveCellCodes(spark: SparkSession, indexDir: String): DataFrame =
    Lifecycle.live(spark, indexDir,
      graft.Readers.parquet(spark, s"$indexDir/codes")
        .withColumn("cell", col("cell").cast("long")))

  def ensureIvfPqIndex(
      spark: SparkSession,
      sfDir: String,
      cells: Int = 16,
      m: Int = 8,
      k: Int = 16): String = {
    val srcSig = graft.Tables.fixtureSig(spark, s"$sfDir/embeddings.parquet")
    val key = Index.cacheKey(
      s"$sfDir:$srcSig:ivfpq:$cells:$m:$k:v${Index.LayoutVersion}")
    val dir = new java.io.File(sys.props("java.io.tmpdir"), s"graft-ivfpq-index-$key")
    if (!new java.io.File(dir, "codes/_SUCCESS").exists()) {
      val emb = Tables.embeddings(spark, sfDir)
      // coarse quantizer from the shared fitted-model artifact — one fit per
      // (corpus, cells) serves q25/q29/q72; identical deterministic centroids
      buildIvfPqIndexWith(spark, emb,
        Vectors.kmeansModel(spark, sfDir, k = cells, iterations = 1),
        fit(emb, m, k), dir.getAbsolutePath)
    }
    dir.getAbsolutePath
  }

  /** q72 — IVF-PQ ANN: probe nprobe cells (partition-pruned), ADC-scan their
    * codes, exact re-rank the k1 survivors. At nprobe = cells the candidate
    * set equals the flat ADC scan, so results must match [[annPq]] exactly —
    * the PqSpec full-probe parity test; at nprobe < cells the spec pins
    * recall.
    */
  def annIvfPq(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10,
      cells: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      k: Int = 16): DataFrame = {
    import spark.implicits._
    val indexDir = ensureIvfPqIndex(spark, sfDir, cells, m, k)
    val cents = Vectors.loadCentroids(spark, s"$indexDir/centroids")
    val model = loadPqModel(spark, s"$indexDir/model")
    val emb = Tables.embeddings(spark, sfDir)
    val q = querySide(spark, emb, model, queryMaxId)

    // (query, cell) probes — driver-computed over the broadcast-small coarse
    // quantizer, exactly like annIvfIndexed.
    val probes = q.rows.toSeq.flatMap { r =>
      cents.nearestArray(r.getSeq[Float](1).toArray, nprobe).map(c => (r.getLong(0), c))
    }
    val codes = liveCellCodes(spark, indexDir)
      .filter(col("cell").isin(probes.map(_._2).distinct: _*))
    val probesDf = probes.toDF("query_id", "cell")
    val candidates = adcTopK1(codes.join(broadcast(probesDf), "cell"), q, k1)
    Knn.rerank(candidates, emb, q.qvecs, k2, collapseDuplicates = false)
  }

  // ------------------------------------------------------------------ BQ

  /** Binary quantization (BQ): ONE SIGN BIT per dimension against the
    * corpus per-dimension mean — the 64-d corpus packs into a single
    * 64-bit word, the 256×-per-float rung below PQ on the compression
    * ladder (flat 1× / SQ8 4× / PQ 32× / BQ 256× per byte-pair — at dim 64
    * BQ matches PQ's 8-byte footprint but its distance is ONE xor +
    * popcount instead of 8 table lookups, the reason Lucene/ES ship it as
    * their default coarse pass). Mean-centering balances the bit
    * distribution so each bit carries ~1 bit of entropy even when the
    * embedding model leaves a dimension offset.
    *
    * Determinism discipline: thresholds are SCALED-LONG means
    * (`sum((x·10⁶)::long) div n`, the q84 k-means treatment) so the model
    * is bitwise identical on any partitioning, and the encode comparison
    * `(x·10⁶)::long > thr6` runs in exact integers on both the codegen and
    * driver paths. Search is Hamming distance `bit_count(code ^ qcode)` —
    * pure integer — followed by the shared exact re-rank, so the whole
    * operator is model-deterministic (spec-pinned full-rank ≡ exact knn,
    * recall floor, indexed ≡ inline).
    */
  case class BqModel(dim: Int, thr6: Array[Long]) {
    require(dim <= 64, s"BQ packs into one long: dim $dim > 64")

    def encodeArrayData(v: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
      require(v.numElements() == dim, s"dim ${v.numElements()} != $dim")
      var code = 0L
      var i = 0
      while (i < dim) {
        if ((v.getFloat(i).toDouble * 1e6).toLong > thr6(i)) code |= (1L << i)
        i += 1
      }
      code
    }

    /** Driver-side twin of [[encodeArrayData]] — same comparison, same bit
      * layout (used for query-side codes and spec recomputes).
      */
    def encodeSeq(v: Seq[Float]): Long = {
      require(v.length == dim, s"dim ${v.length} != $dim")
      var code = 0L
      var i = 0
      while (i < dim) {
        if ((v(i).toDouble * 1e6).toLong > thr6(i)) code |= (1L << i)
        i += 1
      }
      code
    }
  }

  /** Per-dimension scaled-long mean thresholds: one narrow posexplode +
    * dim-keyed integer aggregate (64 groups move per partition regardless
    * of corpus size; exact BIGINT sums ⇒ partition-independent, the same
    * determinism class as [[fitSq]]).
    */
  def fitBq(emb: DataFrame): BqModel = {
    val rows = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum((col("x") * 1e6).cast("long")).as("s"), count(lit(1)).as("n"))
      .select(col("pos"), expr("s div n").as("thr6"))
      .orderBy(col("pos")).collect()
    BqModel(rows.length, rows.map(_.getLong(1)))
  }

  def encodeBq(spark: SparkSession, emb: DataFrame, model: BqModel): DataFrame =
    emb.select(col("vec_id"),
      VectorExpressions.bqEncode(col("embedding"), model).as("code"))

  /** Per-JVM memo of the fitted BQ thresholds over an sfDir corpus — the
    * [[Vectors.kmeansModel]] discipline: a fitted model is an ARTIFACT
    * (train once, reuse across every query in the session), so the inline
    * gate never re-scans the corpus per invocation (the q25 lesson). Keyed
    * by corpus identity (path + mtime).
    */
  private val bqCache =
    new java.util.concurrent.ConcurrentHashMap[String, BqModel]()

  def bqModelCached(spark: SparkSession, sfDir: String): BqModel = {
    val srcSig = graft.Tables.fixtureSig(spark, s"$sfDir/embeddings.parquet")
    graft.Memo.once(bqCache, s"$sfDir:$srcSig")(
      fitBq(Tables.embeddings(spark, sfDir)))
  }

  /** Query-side codes + vectors for the BQ scan (both driver-bounded by
    * queryMaxId, broadcast into the plan).
    */
  private def bqQuerySide(
      spark: SparkSession,
      emb: DataFrame,
      model: BqModel,
      queryMaxId: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    val qRows = emb.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id"), col("embedding")).collect()
    val qcodes = qRows.toSeq
      .map(r => (r.getLong(0), model.encodeSeq(r.getSeq[Float](1))))
      .toDF("query_id", "qcode")
    val qvecs = qRows.toSeq.map(r => (r.getLong(0), r.getSeq[Float](1)))
      .toDF("query_id", "qv")
    (qcodes, qvecs)
  }

  /** Phase 1: Hamming-score a (query_id, vec_id, code) frame, keep top-k1
    * per query (ties by vec_id) as (query_id, vec_id) for [[Knn.rerank]].
    * `bit_count(xor)` is a codegen'd integer
    * intrinsic — the cheapest approximate-distance scan the engine has.
    */
  private def hammingTopK1(paired: DataFrame, k1: Int): DataFrame = {
    val wK1 = Window.partitionBy(col("query_id"))
      .orderBy(col("ham").asc, col("vec_id").asc)
    paired
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        bit_count(col("code").bitwiseXOR(col("qcode"))).as("ham"))
      .withColumn("r1", row_number().over(wK1))
      .filter(col("r1") <= k1)
      .select(col("query_id"), col("vec_id"))
  }

  /** q155 — BQ ANN (no SQL oracle — quantization-dependent; pinned by
    * PqSpec full-rank-parity, recall-floor, and indexed≡inline tests):
    * Hamming scan over the 1-long-per-vector codes → top-k1 → exact
    * re-rank → top-k2. Output shape matches the other ANN gates.
    */
  def annBq(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val model = bqModelCached(spark, sfDir)
    val codes = encodeBq(spark, emb, model)
    val (qcodes, qvecs) = bqQuerySide(spark, emb, model, queryMaxId)
    val candidates = hammingTopK1(codes.crossJoin(broadcast(qcodes)), k1)
    Knn.rerank(candidates, emb, qvecs, k2, collapseDuplicates = false)
  }

  /** Persisted BQ index: `model/` (dim, thr6 — one row) + `codes/`
    * (vec_id, code LONG), 32× smaller than the vectors parquet. Same
    * [[Lifecycle]] semantics as the PQ/SQ8 layouts: thresholds freeze at
    * build time (re-deriving them would flip stored sign bits), so
    * distribution drift is a periodic-rebuild concern — [[Audit
    * .centroidDrift]] is the probe that says when.
    */
  def buildBqIndex(spark: SparkSession, emb: DataFrame, model: BqModel, outDir: String): Unit = {
    Lifecycle.resetMarkers(spark, outDir)
    writeBqModel(spark, model, s"$outDir/model")
    encodeBq(spark, emb, model)
      .withColumn(Lifecycle.BatchCol, lit(0L))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$outDir/codes")
    // Post-write bump: see Index.build — no pre-rebuild memo may survive.
    graft.Readers.bump()
  }

  def appendBqIndex(spark: SparkSession, indexDir: String, newVectors: DataFrame): Unit =
    Lifecycle.appendWith(spark, indexDir, newVectors,
      adoptParts = Seq("codes" -> Nil),
      stored = spark.read.parquet(s"$indexDir/codes")) { batch =>
      val model = loadBqModel(spark, s"$indexDir/model")
      encodeBq(spark, newVectors, model)
        .withColumn(Lifecycle.BatchCol, lit(batch))
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$indexDir/codes")
    }

  def deleteFromBqIndex(spark: SparkSession, indexDir: String, ids: Seq[Long]): Unit =
    Lifecycle.delete(spark, indexDir, ids)

  def vacuumBqIndex(spark: SparkSession, indexDir: String): Unit =
    Lifecycle.vacuum(spark, indexDir, Seq("codes" -> Nil))

  def liveBqCodes(spark: SparkSession, indexDir: String): DataFrame =
    Lifecycle.live(spark, indexDir, graft.Readers.parquet(spark, s"$indexDir/codes"))

  private[graft] def writeBqModel(spark: SparkSession, model: BqModel, dir: String): Unit = {
    import spark.implicits._
    Seq((model.dim, model.thr6.toSeq))
      .toDF("dim", "thr6")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
  }

  /** Per-JVM artifact memo — see [[loadPqModel]]. */
  def loadBqModel(spark: SparkSession, dir: String): BqModel =
    graft.Readers.artifact(spark, dir) {
      val r = spark.read.parquet(dir).collect()(0)
      BqModel(r.getInt(0), r.getSeq[Long](1).toArray)
    }

  /** Build-once cache keyed like [[ensureSqIndex]]. */
  def ensureBqIndex(spark: SparkSession, sfDir: String): String = {
    val srcSig = graft.Tables.fixtureSig(spark, s"$sfDir/embeddings.parquet")
    val key = Index.cacheKey(s"$sfDir:$srcSig:bq:v${Index.LayoutVersion}")
    val dir = new java.io.File(sys.props("java.io.tmpdir"), s"graft-bq-index-$key")
    if (!new java.io.File(dir, "codes/_SUCCESS").exists()) {
      val emb = Tables.embeddings(spark, sfDir)
      buildBqIndex(spark, emb, fitBq(emb), dir.getAbsolutePath)
    }
    dir.getAbsolutePath
  }

  /** q156 — BQ ANN against the PERSISTED code table: identical semantics
    * to [[annBq]] (deterministic fit ⇒ same codes ⇒ same results,
    * spec-pinned), but the Hamming pass scans `codes/` — 8 bytes per
    * vector — and only the k1 re-rank rows read a real embedding. The
    * 100 TB plan: a 32×-compressed whole-stage-codegen scan whose distance
    * kernel is a single xor+popcount (PlanSpec asserts the code-only
    * ReadSchema).
    */
  def annBqIndexed(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10): DataFrame = {
    val indexDir = ensureBqIndex(spark, sfDir)
    val model = loadBqModel(spark, s"$indexDir/model")
    val emb = Tables.embeddings(spark, sfDir)
    val (qcodes, qvecs) = bqQuerySide(spark, emb, model, queryMaxId)
    val candidates = hammingTopK1(
      liveBqCodes(spark, indexDir).crossJoin(broadcast(qcodes)), k1)
    Knn.rerank(candidates, emb, qvecs, k2, collapseDuplicates = false)
  }

  /** The BQ phase-1 scan in isolation (PlanSpec: ReadSchema must contain
    * code and never embedding — the 32× working-set reduction is the
    * point).
    */
  def bqScanPlan(spark: SparkSession, sfDir: String, queryMaxId: Long = 8): DataFrame = {
    val indexDir = ensureBqIndex(spark, sfDir)
    val model = loadBqModel(spark, s"$indexDir/model")
    val (qcodes, _) = bqQuerySide(spark, Tables.embeddings(spark, sfDir), model, queryMaxId)
    liveBqCodes(spark, indexDir).crossJoin(broadcast(qcodes))
      .select(col("query_id"), col("vec_id"),
        bit_count(col("code").bitwiseXOR(col("qcode"))).as("ham"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q64_pq_ann" -> ((s: SparkSession, d: String) => annPq(s, d)),
    "q71_pq_ann_indexed" -> ((s: SparkSession, d: String) => annPqIndexed(s, d)),
    "q72_ivfpq_ann" -> ((s: SparkSession, d: String) => annIvfPq(s, d)),
    "q90_sq8_ann" -> ((s: SparkSession, d: String) => annSq8(s, d)),
    "q91_sq8_ann_indexed" -> ((s: SparkSession, d: String) => annSq8Indexed(s, d)),
    "q155_bq_ann" -> ((s: SparkSession, d: String) => annBq(s, d)),
    "q156_bq_ann_indexed" -> ((s: SparkSession, d: String) => annBqIndexed(s, d)))

  val oracles: Map[String, String] = Map.empty
}
