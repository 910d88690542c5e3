package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import org.apache.spark.sql.graft.VectorExpressions

/** Two-phase approximate kNN — the reference's flagship search
  * (SURVEY.md §2.A A5–A7, `[PUBREPO AknnRestAction.handleSearchRequest,
  * conf=HIGH]`):
  *
  * Phase 1 (candidates): score every indexed vector by the number of hash
  * tables in which it collides with the query ("collision count" — ES scores
  * a bool-should of term clauses); keep top-k1 per query.
  * Phase 2 (re-rank): exact Euclidean distance on the k1 candidates, keep
  * top-k2. Self-matches are EXCLUDED (documented contract choice, SURVEY A7).
  *
  * Each phase has one implementation: [[candidates]] (equi-join of posting
  * lists with the broadcast query probes → count → window top-k1) and
  * [[rerank]] (join back for vectors → distance → window top-k2). Every LSH
  * entry point feeds those two stages, and the quantized-ANN families in
  * [[Pq]] reuse [[rerank]] behind their own phase 1. This is the
  * collision-counting LSH similarity join (PAPERS.md C2Net) expressed with
  * stock relational operators so Catalyst handles pushdown and join
  * selection.
  *
  * Scale notes (100 TB): the candidate join is an equi-join on (tbl, hash) —
  * shuffle-partitionable, no cross product anywhere. The query side is tiny
  * and broadcast. Skewed buckets (a hash value holding a large fraction of
  * rows) are the known risk; mitigation at scale is capping bucket size or
  * salting the heavy hashes (SURVEY §7); at gate scale AQE handles it.
  */
object Knn {

  /** Full two-phase search for all query ids < queryMaxId.
    * Output: (query_id, neighbor_id, rank, collisions, dist4).
    *
    * Default: tables=32 with bits DERIVED from the corpus count
    * ([[Lsh.deriveBits]] — resolves to 3 at the gate fixtures' 500–2000
    * random 64-d vectors, growing as log2(N) so buckets stay bounded at any
    * scale). At the fixtures: recall@10 = 0.71 vs exact kNN at k1=100,
    * measured by tools/RecallSweep. Random vectors are a worst case for
    * LSH — real embedding corpora cluster and recall rises sharply. An
    * explicit `bits > 0` overrides; tables trades index size for recall.
    *
    * The postings and query probes are built here, in memory, with
    * [[Lsh.explodeHashes]] / [[Lsh.multiprobe]] rather than read from an
    * [[Index]] layout, so this path stays an independent reference for the
    * indexed search (LshSpec asserts the two agree row for row).
    */
  def lshTopK(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10,
      tables: Int = 32,
      bits: Int = 0,
      multiprobe: Boolean = false): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    // bits = 0: derive from the corpus count, mirroring Index.ensure so the
    // inline and indexed paths stay row-identical under the shared default.
    // The count is memoized per fixture — not a job per invocation.
    val useBits = if (bits > 0) bits else Lsh.deriveBits(Tables.embeddingsCount(spark, sfDir))
    val model = Lsh.fit(emb, tables, useBits)
    val hashed = Lsh.withHashes(spark, emb, model)
    val queries = hashed.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("hashes"), col("embedding").as("qv"))
    // Multiprobe: also probe Hamming-1 buckets on the QUERY side only — the
    // index stays untouched, so the cost is |Q|·tables·bits extra probe keys.
    val exact = Lsh.explodeHashes(queries, "query_id")
    val probes = if (multiprobe) Lsh.multiprobe(exact, useBits) else exact
    val k1set = candidates(Lsh.explodeHashes(hashed), probes,
      col("vec_id") =!= col("query_id"), None, k1)
    rerank(k1set, hashed, queries.select(col("query_id"), col("qv")), k2,
      collapseDuplicates = false)
  }

  /** The real search lifecycle (SURVEY §3.3, A3→A7): search a PERSISTED
    * index instead of refitting the model and re-hashing the corpus per
    * query. [[Index.ensure]] builds the three-part layout once per
    * (fixture, params); every search after that:
    *
    *   1. GETs the stored query docs' precomputed hashes (pushed vec_id
    *      filter on `vectors/`, tiny driver collect — the analog of ES
    *      fetching `_aknn_hashes` of the query doc);
    *   2. probes `postings/` with a static partition filter on the probe
    *      pkeys — a lossless prune (pkey is a function of the join key), so
    *      the collision scan reads |probe| directories, not the corpus;
    *   3. collision-counts + re-ranks through the shared [[candidates]] and
    *      [[rerank]] stages.
    *
    * Results are identical to [[lshTopK]] (same deterministic fit, same
    * search semantics) — asserted by LshSpec.
    *
    * When the derived width saturates ([[Lsh.bitsSaturated]] — the corpus
    * outgrew the 2^16 bucket space and E[bucket] grows linearly again), the
    * bucket cap engages AUTOMATICALLY: past the ceiling an uncapped
    * collision join re-enters unbounded fan-out, so the default flips from
    * "exact posting lists" to "bounded posting lists, measured recall cost".
    * Gate fixtures sit far below the ceiling → cap 0, rows unchanged.
    */
  def lshTopKIndexed(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10,
      tables: Int = 32,
      bits: Int = 0,
      multiprobe: Boolean = false): DataFrame = {
    val indexDir = Index.ensure(spark, sfDir, tables, bits)
    val autoCap =
      if (bits > 0) 0 // explicit width: the operator owns the tradeoff
      else Lsh.autoBucketCap(Tables.embeddingsCount(spark, sfDir))
    searchIndex(spark, indexDir, queryMaxId, k1, k2, multiprobe, bucketCap = autoCap)
  }

  /** q120 — FILTERED search against the persisted index (the indexed twin
    * of [[KnnExact.topKFiltered]], A5–A7 composed with a metadata
    * predicate). The index layout stores no attributes beyond the vector,
    * so the label predicate is a METADATA JOIN: candidate ids from the
    * collision count join the (vec_id, label) projection of the source
    * table, and disallowed candidates drop BEFORE the k1 cut — k1 slots
    * only ever hold servable candidates (pure post-filtering of a k2 list
    * under-fills; pre-filtering the postings would need label-aware
    * partitioning). At 100 TB the metadata side is a 2-column columnar
    * scan joined on vec_id against the bucket-sized candidate set —
    * broadcast whichever side is small; candidate sets from a point query
    * are tiny, so AQE picks them. Rows-only gate; pinned by the LshSpec
    * filtered-recall + label-soundness spec.
    */
  def lshTopKFilteredIndexed(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10,
      labels: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    val indexDir = Index.ensure(spark, sfDir)
    val autoCap = Lsh.autoBucketCap(Tables.embeddingsCount(spark, sfDir))
    val meta = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"))
      .filter(col("label").isin(labels.map(Integer.valueOf): _*))
    searchIndex(spark, indexDir, queryMaxId, k1, k2,
      bucketCap = autoCap, candidateFilter = Some(meta.select(col("vec_id"))))
  }

  /** Raw-vector search against the persisted index (ES `knn.query_vector`):
    * the same A5→A6 pipeline as [[searchIndex]] for a query vector that is
    * NOT a stored document — the vector is hashed driver-side with the
    * index's own cached model (one O(tables·bits·dim) hash, the ingest
    * path's arithmetic exactly), so probes hit the identical buckets a
    * stored twin's precomputed hashes would. `excludeIds` is the ES
    * exclude-filter knob (drop known ids — e.g. the query's own document —
    * before the k1 cut so every slot is servable). A vector whose length is
    * not the index's `dim` is refused: it would hash and re-rank on the
    * wrong components.
    *
    * Parity contract (spec-pinned): for a vector that IS stored, searching
    * by value with its id excluded returns exactly [[searchIndex]]'s
    * results for that id — same buckets, same collision counts, same
    * re-rank.
    */
  def searchIndexByVector(
      spark: SparkSession,
      indexDir: String,
      query: Array[Float],
      k1: Int,
      k2: Int,
      multiprobe: Boolean = false,
      bucketCap: Int = 0,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    val keep = if (excludeIds.isEmpty) lit(true) else !col("vec_id").isin(excludeIds: _*)
    searchLayout(spark, indexDir, k1, k2, multiprobe, bucketCap, keep, None) { model =>
      require(query.length == model.dim,
        s"query vector has ${query.length} components but the index at $indexDir " +
          s"has dim ${model.dim}; embed the query with the model the index was built from")
      Seq((-1L, model.hashVector(query).toSeq, query.toSeq))
    }
  }

  /** A5–A7 against a persisted [[Index]] layout, one query per stored id
    * below `queryMaxId`, each excluding itself.
    *
    * `bucketCap` (0 = off, the gate default) bounds the posting-list length
    * per (tbl, hash) via [[Skew.capBuckets]] — the 100 TB control for
    * degenerate buckets (a hash value holding a large fraction of the
    * corpus would otherwise dominate the collision join's fan-out). Capping
    * trades a measured recall loss on exactly those low-signal buckets for
    * a hard bound on join width.
    */
  def searchIndex(
      spark: SparkSession,
      indexDir: String,
      queryMaxId: Long,
      k1: Int,
      k2: Int,
      multiprobe: Boolean = false,
      bucketCap: Int = 0,
      candidateFilter: Option[DataFrame] = None): DataFrame =
    searchLayout(spark, indexDir, k1, k2, multiprobe, bucketCap,
        col("vec_id") =!= col("query_id"), candidateFilter) { _ =>
      // GET query docs: precomputed hashes + stored vectors, no re-hash
      // (A7). One pushed-filter scan; the rows are |Q|-small by contract.
      Index.liveVectors(spark, indexDir).filter(col("vec_id") < queryMaxId)
        .select(col("vec_id"), col("hashes"), col("embedding")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Float](2)))
    }

  /** The indexed search behind [[searchIndex]] and [[searchIndexByVector]].
    * `queriesOf` turns the index's model into the driver-side
    * (query_id, hashes, vector) list; the rest is shared: probe the
    * postings under a static partition prune (lossless — see [[Index]]),
    * then the [[candidates]] and [[rerank]] stages. Live views keep
    * tombstoned ids (Index.delete) out; with no tombstones the plan is the
    * plain scan.
    */
  private def searchLayout(
      spark: SparkSession,
      indexDir: String,
      k1: Int,
      k2: Int,
      multiprobe: Boolean,
      bucketCap: Int,
      keep: Column,
      allowed: Option[DataFrame])(
      queriesOf: Lsh.LshModel => Seq[(Long, Seq[Long], Seq[Float])]): DataFrame = {
    import spark.implicits._
    val (model, numBuckets) = Lsh.loadModelCached(spark, s"$indexDir/model")
    val queries = queriesOf(model)
    // Multiprobe expands Hamming-1 flips query-side; the index is untouched.
    val probes = queries.flatMap { case (qid, hashes, _) =>
      hashes.zipWithIndex.flatMap { case (h, t) =>
        (qid, t, h) +: (if (multiprobe) (0 until model.bits).map(b => (qid, t, h ^ (1L << b))) else Nil)
      }
    }.distinct
    val pkeys = probes.map { case (_, t, h) => Index.pkeyOf(t, h, numBuckets) }.distinct
    // Only a layout that was ever batch-appended to (`appends/` markers
    // exist from the first Lifecycle.allocateBatch on) can hold duplicate
    // copies of a posting or vector row. There, postings dedup AFTER the
    // partition prune (a shuffle of only the probed buckets) and rerank
    // collapses duplicate rescored rows; elsewhere both exchanges are
    // skipped. One driver fs stat.
    val appended = Lifecycle.fsOf(spark, indexDir)
      .exists(new org.apache.hadoop.fs.Path(s"$indexDir/appends"))
    val scanned = Index.livePostings(spark, indexDir)
      .filter(col(Index.PKeyCol).isin(pkeys: _*))
    val pruned = if (appended) scanned.dropDuplicates("tbl", "hash", "vec_id") else scanned
    val postings = if (bucketCap > 0) Skew.capBuckets(pruned, bucketCap) else pruned
    val k1set = candidates(postings, probes.toDF("query_id", "tbl", "hash"), keep, allowed, k1)
    // Query vectors come from the driver-side list — a local relation, not
    // another index scan.
    val qvecs = queries.map { case (qid, _, v) => (qid, v) }.toDF("query_id", "qv")
    rerank(k1set, Index.liveVectors(spark, indexDir), qvecs, k2, collapseDuplicates = appended)
  }

  /** A5, the candidate stage of every LSH search: equi-join the
    * (tbl, hash, vec_id) posting lists with the broadcast (query_id, tbl,
    * hash) probes, keep the pairs `keep` admits, count collisions per
    * (query, candidate), drop candidates absent from `allowed` BEFORE the
    * k1 cut (so every k1 slot holds a servable candidate — see
    * [[lshTopKFilteredIndexed]]), and keep the top k1 per query by
    * collisions, ties by vec_id. `postings` holds each (tbl, hash, vec_id)
    * once, so a plain count IS the distinct-table collision count.
    * Output: (query_id, vec_id, collisions).
    */
  private def candidates(
      postings: DataFrame,
      probes: DataFrame,
      keep: Column,
      allowed: Option[DataFrame],
      k1: Int): DataFrame = {
    val counted = postings
      .join(broadcast(probes), Seq("tbl", "hash"))
      .filter(keep)
      .groupBy(col("query_id"), col("vec_id"))
      .agg(count(lit(1)).as("collisions"))
    val servable = allowed.fold(counted)(a =>
      counted.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi"))
    val wK1 = Window.partitionBy(col("query_id"))
      .orderBy(col("collisions").desc, col("vec_id").asc)
    servable
      .withColumn("r1", row_number().over(wK1))
      .filter(col("r1") <= k1)
      .drop("r1")
  }

  /** A6, the exact re-rank stage of every two-phase search (LSH here, the
    * quantized-ANN families in [[Pq]]): L2 from each (query_id, vec_id)
    * candidate to its query vector in `qvecs` (query_id, qv), top k2 per
    * query by distance, ties by neighbor_id. Any other candidate column
    * (the LSH collision count) is carried through.
    * Output: (query_id, neighbor_id, rank, <carried>, dist4).
    *
    * `collapseDuplicates`: duplicate stored copies of an id
    * (append-after-delete) produce identical rescored rows; they collapse
    * on the k1-sized set, never on the corpus-sized vectors table.
    */
  private[operators] def rerank(
      candidates: DataFrame,
      vectors: DataFrame,
      qvecs: DataFrame,
      k2: Int,
      collapseDuplicates: Boolean): DataFrame = {
    val carried = candidates.columns.filterNot(Set("query_id", "vec_id")).map(col).toSeq
    // broadcast the CANDIDATE side: it is |Q|·k1 rows BY CONTRACT (the k1
    // window just cut it), while `vectors` is the CORPUS. Unhinted, Catalyst
    // compared the fixture-tiny vectors scan against the candidates'
    // post-window estimate and broadcast the corpus, which inverts at scale
    // (PlanSpec locks this direction).
    val rescored = broadcast(candidates)
      .join(vectors.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(qvecs), "query_id")
      .select((col("query_id") +: col("vec_id").as("neighbor_id") +: carried) :+
        VectorExpressions.l2(col("qv"), col("embedding")).as("dist"): _*)
    val unique =
      if (collapseDuplicates) rescored.dropDuplicates("query_id", "neighbor_id") else rescored
    val wK2 = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    unique
      .withColumn("rank", row_number().over(wK2))
      .filter(col("rank") <= k2)
      .select((Seq(col("query_id"), col("neighbor_id"), col("rank")) ++ carried) :+
        Det.display(col("dist"), 4).as("dist4"): _*)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- q125

  /** q125 — RECALL BENCHMARK as a first-class query (SURVEY §2.A A10: the
    * reference validated its ANN empirically by sweeping recall@k of
    * `_aknn_search` against brute force; this is that measurement as a
    * DataFrame op a user can run over any index). Per query: the exact
    * top-k set, the indexed two-phase LSH top-k set, their overlap, and
    * the integer recall percentage.
    *
    * Both inputs are k-bounded per query (k·|Q| rows total), so the
    * overlap join and the per-query aggregate are trivially sized whatever
    * the corpus is — the expensive parts are the two searches themselves,
    * which keep their own audited plan shapes. Rows-only gate (the LSH leg
    * is model-dependent); the recall floor itself is spec-pinned
    * (MiscSpec: mean recall ≥ the LshSpec 0.7 floor, exact leg always
    * full).
    */
  def recallBenchmark(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k: Int = 10,
      k1: Int = 100): DataFrame =
    recallOf(
      KnnExact.topK(spark, sfDir, queryMaxId, k),
      lshTopKIndexed(spark, sfDir, queryMaxId, k1, k))

  /** q140 — the A10 recall measurement against the PERSISTED IVF index
    * (the q125 twin for the second index family): per-query exact-vs-IVF
    * overlap and integer recall%. Same two-leg shape; the approximate leg
    * is the cell-partition-pruned search a production deployment actually
    * serves, so this row tells an operator what the nprobe setting costs
    * in recall on THEIR corpus (RecallSweep sweeps the wider ladder).
    */
  def recallBenchmarkIvf(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k: Int = 10,
      cells: Int = 16,
      nprobe: Int = 4): DataFrame =
    recallOf(
      KnnExact.topK(spark, sfDir, queryMaxId, k),
      Vectors.annIvfIndexed(spark, sfDir, queryMaxId, k, cells, nprobe))

  /** q166 — the raw-vector flagship (ES `knn` with `query_vector`): fetch
    * one stored embedding's VALUES and search by them as an external
    * vector (its own id excluded) — the "embed the user's query text,
    * then search" deployment path, which never has a stored id. Gate is
    * rows-only (model-dependent like q23); MiscSpec pins exact parity
    * with the stored-id search for the same vector.
    */
  def lshTopKByVector(
      spark: SparkSession,
      sfDir: String,
      sourceId: Long = 3,
      k1: Int = 100,
      k2: Int = 10): DataFrame = {
    val idx = Index.ensure(spark, sfDir)
    val q = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === sourceId)
      .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
    searchIndexByVector(spark, idx, q, k1, k2, excludeIds = Seq(sourceId))
  }

  /** q158 — the A10 recall measurement against the PERSISTED BQ index
    * (completing the production-search triad with q125/q140): per-query
    * exact-vs-BQ overlap and integer recall%. The approximate leg is the
    * xor+popcount Hamming scan over the 8-byte code table — this row tells
    * an operator what one sign bit per dimension costs in recall at their
    * k1 on THEIR corpus (RecallSweep sweeps the k1 ladder: 0.66/0.88/0.98
    * at k1=50/100/200 on the fixtures).
    */
  def recallBenchmarkBq(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k: Int = 10,
      k1: Int = 100): DataFrame =
    recallOf(
      KnnExact.topK(spark, sfDir, queryMaxId, k),
      Pq.annBqIndexed(spark, sfDir, queryMaxId, k1, k))

  /** q172 — the A10 recall measurement against the PERSISTED PQ index
    * (completing the recall-gate family across the whole compression
    * ladder: q125 LSH, q140 IVF, q158 BQ, q172 PQ, q173 SQ8): per-query
    * exact-vs-ADC overlap and integer recall%. The approximate leg is the
    * 32×-compressed asymmetric-distance scan a production deployment
    * serves — this row prices the m=8/k=16 codebook's recall at the
    * caller's k1 on THEIR corpus (RecallSweep sweeps the wider ladder).
    */
  def recallBenchmarkPq(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k: Int = 10,
      k1: Int = 100): DataFrame =
    recallOf(
      KnnExact.topK(spark, sfDir, queryMaxId, k),
      Pq.annPqIndexed(spark, sfDir, queryMaxId, k1, k))

  /** q173 — the A10 recall measurement against the PERSISTED SQ8 index:
    * per-query exact-vs-SQ8 overlap and integer recall%. The approximate
    * leg scans 1 byte per dimension — near-exact by construction, and this
    * row is the gate that KEEPS it near-exact (a quantization-grid
    * regression shows up as a recall drop here before any user sees it).
    */
  def recallBenchmarkSq8(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k: Int = 10,
      k1: Int = 100): DataFrame =
    recallOf(
      KnnExact.topK(spark, sfDir, queryMaxId, k),
      Pq.annSq8Indexed(spark, sfDir, queryMaxId, k1, k))

  /** The overlap-count core shared by every recall row. ONE exact leg: a
    * left join marks each exact neighbor found by the approximate leg, and
    * a single aggregate counts both totals — two legs total, not three (a
    * separate semi-join hits branch would re-plan and re-execute the
    * O(|Q|·N) brute-force subtree with no exchange reuse).
    */
  private def recallOf(exactDf: DataFrame, approxDf: DataFrame): DataFrame =
    exactDf
      .select(col("query_id"), col("neighbor_id"))
      .join(
        approxDf.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hits"))
      .withColumn("recall_pct", expr("n_hits * 100 div n_exact"))
      .orderBy(col("query_id"))
}
