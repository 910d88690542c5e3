package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Connected components over a pair list — the step that turns near-duplicate
  * PAIRS into dedup GROUPS (a training-data pipeline keeps one document per
  * component, not per pair: pairs (a,b) and (b,c) must collapse to one
  * cluster even though (a,c) was never emitted).
  *
  * Algorithm: iterative min-label propagation on DataFrames — every vertex
  * starts as its own label; each round takes the min of its own and its
  * neighbors' labels; fixpoint when no label changes. Converges in
  * O(component diameter) rounds; near-dup graphs are dense clique-ish blobs,
  * so the diameter is tiny (2-3 rounds on the fixtures).
  *
  * Scale notes (100 TB): each round is one equi-join of the edge list with
  * the label table plus a min-aggregate — all shuffle-partitionable on vertex
  * id, no driver-side graph. Each round is pinned via [[Materialize]] so
  * the plan stays flat — executor-local checkpoint by default, recomputable
  * DISK_ONLY under `spark.graft.reliableMaterialize=true` for cluster runs
  * where executor loss is routine. For graphs whose diameter is
  * genuinely large, the classic fix is the small-star/large-star alternation
  * (Kiveris et al., "Connected Components in MapReduce", public) — same
  * join-per-round shape, fewer rounds; unnecessary for near-dup clustering.
  */
object Components {

  /** Edge-count bound for the driver union-find fast path: 200 k edges is
    * ~3 MB collected (two longs each) — the same bounded-collect budget as
    * the k-means centroid and BPE argmax collects. Below it, solving on the
    * driver replaces O(diameter) join-rounds (each a full shuffle + job,
    * the dominant cost of every CC call at gate scale) with one collect and
    * one broadcast join; above it, the distributed min-label loop runs
    * unchanged. The VERTEX set never collects on either path — only edges.
    */
  val DriverSolveMaxEdges = 200000

  /** Min-root union-find over an edge list — the ONE driver-side CC core
    * shared by the [[connectedComponents]] fast path and [[componentsAuto]]
    * (a tie-break or compression fix lands once). Union by smaller root,
    * so a component's root is always its minimum member id — exactly the
    * label the distributed loop converges to. Returns the (endpoint →
    * root) map for every vertex touched by an edge.
    */
  private[graft] def unionFind(
      es: Iterable[(Long, Long)]): scala.collection.mutable.HashMap[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri < rj) parent(rj) = ri else if (rj < ri) parent(ri) = rj
    }
    val out = scala.collection.mutable.HashMap.empty[Long, Long]
    es.foreach { case (i, j) => out(i) = find(i); out(j) = find(j) }
    out
  }

  /** (vertex, component) for every vertex, component = min vertex id
    * reachable through `edges` (i, j). Vertices not in any edge keep their
    * own id.
    *
    * Two physical paths, one contract: edge lists at or under
    * [[DriverSolveMaxEdges]] collect once and solve via union-find (the
    * labels return as a broadcast join against the still-distributed
    * vertex set); larger graphs take the iterative min-label loop below.
    * Both produce identical (v, label) rows — including for edges touching
    * ids OUTSIDE `vertices`: the iterative loop never propagates through a
    * label-less endpoint, so the fast path restricts edges to the vertex
    * set BEFORE solving (without the restriction a non-vertex id would
    * bridge two components the loop keeps separate).
    *
    * Probe cost: the limit(bound+1) collect executes the edge pipeline
    * once; a graph that overflows the bound pays that bounded probe and
    * recomputes edges inside the loop — acceptable because the loop's
    * O(diameter) rounds dominate the duplicated edge pass, and callers
    * with expensive edge pipelines materialize them first ([[Materialize]]).
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val vset = vertices.select(col("v"))
    val restricted = edges.select(col("i"), col("j"))
      .join(vset.withColumnRenamed("v", "i"), Seq("i"), "left_semi")
      .join(vset.withColumnRenamed("v", "j"), Seq("j"), "left_semi")
    val probe = restricted.limit(DriverSolveMaxEdges + 1).collect()
    if (probe.length <= DriverSolveMaxEdges) {
      val labels = unionFind(probe.map(r => (r.getLong(0), r.getLong(1)))).toSeq
      val lbl = labels.toDF("v", "uf_label")
      return vertices.select(col("v"))
        .join(broadcast(lbl), Seq("v"), "left")
        .select(col("v"), coalesce(col("uf_label"), col("v")).as("label"))
    }
    connectedComponentsIterative(vertices, edges)
  }

  /** Default propagation-round cap for [[connectedComponentsIterative]]:
    * 3× the 2–4-round min-label radius of the near-dup clique-blob regime
    * the loop is sized for (measured r13: the real sf1 near-dup graph
    * converges in 2 rounds; a worst-geometry 64-chain pays 64 rounds at
    * ~0.25 s/round — each round is a full shuffle join + aggregate JOB, so
    * diameter-bound graphs pay diameter jobs). Past the cap the loop
    * REFUSES with the documented remedy instead of silently paying
    * diameter rounds — the same refusal discipline as the flat-assignment
    * budget ([[graft.operators.Vectors]]) and the BPE driver-fit gate.
    * Callers clustering a known-high-diameter graph override `maxRounds`
    * explicitly (the cap is a misuse tripwire, not a semantics change:
    * any completed run is exact regardless of the cap value).
    */
  val DefaultMaxRounds = 12

  /** Rounds the last [[connectedComponentsIterative]] call ran — a
    * measurement hook for tools/CeilingBench (the loop's cost model is
    * rounds × per-round join+aggregate job, so the round count is the
    * number a scale audit needs alongside wall time). Test/tool-only;
    * concurrent CC calls would race it, which no gate path does.
    */
  private[graft] val lastIterativeRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The distributed min-label propagation loop — the 100 TB path.
    * Refuses past `maxRounds` rounds (default [[DefaultMaxRounds]]) with
    * an actionable message: convergence needs O(min-label radius) rounds,
    * and a graph outside the 2–4-round near-dup regime should be routed
    * through small-star/large-star alternation (Kiveris et al., "Connected
    * Components in MapReduce" — same join-per-round shape, O(log d)
    * rounds) or run with an explicit higher cap, as a deliberate choice
    * rather than a silent diameter-rounds bill.
    */
  private[graft] def connectedComponentsIterative(
      vertices: DataFrame, edges: DataFrame,
      maxRounds: Int = DefaultMaxRounds): DataFrame = {
    val bidir = Materialize.stable(
      edges.select(col("i").as("src"), col("j").as("dst"))
        .union(edges.select(col("j").as("src"), col("i").as("dst"))), eager = true)
    var labels = Materialize.stable(
      vertices.select(col("v"), col("v").as("label")), eager = true)
    // The PINNED frame backing `labels` — released per round. (`labels`
    // itself becomes a projection over it; releasing the projection would
    // miss the persisted-mode cache entry, whose key is the pinned plan.)
    var pinned = labels
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      if (rounds > maxRounds) {
        // Free the pinned blocks BEFORE refusing — a refused call must not
        // leak the round's checkpoint storage for the session's lifetime.
        Materialize.release(pinned)
        Materialize.release(bidir)
        lastIterativeRounds.set(rounds - 1)
        throw new IllegalStateException(
          s"connected-components propagation did not converge within " +
            s"$maxRounds rounds - this graph's min-label radius is outside " +
            "the 2-4-round near-dup regime the loop is sized for, and each " +
            "further round is a full shuffle join + aggregate job (a " +
            "chain/high-diameter graph pays DIAMETER rounds). Either use " +
            "connectedComponentsStar (small-star/large-star alternation, " +
            "Kiveris et al. - O(log diameter) alternations of the same " +
            "join shape; same (v, label) contract), or pass an explicit " +
            "higher maxRounds to connectedComponentsIterative (exactness " +
            "is unaffected; you are choosing to pay rounds x per-round-job).")
      }
      val nbrMin = bidir
        .join(labels.select(col("v").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("v"))
        .agg(min(col("nl")).as("mn"))
      // The change flag rides the propagation join, so detecting the
      // fixpoint is a trivial aggregate over the checkpointed round — not a
      // second join against the previous labels.
      // Lazy checkpoint: the fixpoint aggregate below is the action that
      // materializes the round (one job, not materialize-then-aggregate);
      // later rounds read the cached blocks.
      val next = labels
        .join(nbrMin, Seq("v"), "left")
        .select(
          col("v"),
          least(col("label"), coalesce(col("mn"), col("label"))).as("label"),
          coalesce(col("mn") < col("label"), lit(false)).as("chg"))
        .transform(Materialize.stable(_))
      // coalesce: sum over zero rows is NULL — an empty vertex set must
      // terminate, not NPE
      changed = next.agg(coalesce(sum(when(col("chg"), 1L).otherwise(0L)), lit(0L)))
        .first().getLong(0)
      // The fixpoint aggregate above materialized this round's blocks, so
      // the previous round's are dead — free them now, or every round of
      // every call leaks storage memory for the session's lifetime.
      Materialize.release(pinned)
      pinned = next
      labels = next.drop("chg")
    }
    // The returned labels are materialized; the edge list served its last
    // propagation round.
    Materialize.release(bidir)
    lastIterativeRounds.set(rounds)
    labels
  }

  // --------------------------------------------------------------------
  // Small-star / large-star alternation (Kiveris et al., "Connected
  // Components in MapReduce and Beyond" — public): the HIGH-DIAMETER
  // remedy the min-label loop's round-cap refusal names. Same
  // join-per-round physical shape (one neighbor-min aggregate + one
  // join-back per star operation), but each round CONTRACTS paths toward
  // component minima instead of crawling labels one hop, so convergence
  // is O(log) alternations in the component diameter rather than
  // O(diameter) rounds. r14: implemented (was documented-only), so the
  // refusal message now points at working code.
  // --------------------------------------------------------------------

  /** Round cap for [[connectedComponentsStar]]: alternations grow
    * logarithmically (the r14 CeilingBench chain measurement: a 64-long
    * chain converges in far fewer alternations than its 64 min-label
    * rounds), so 64 alternations covers any component a 2^32-vertex graph
    * can produce with a wide margin; hitting it means a bug, not a big
    * graph — hence a refusal, same discipline as the min-label cap.
    */
  val StarMaxRounds = 64

  /** LARGE-STAR over a bidirectional edge list (u, v): every neighbor
    * v > u re-links to m(u) = min(Γ(u) ∪ u). One hash aggregate for the
    * per-node min + one equi-join back — both shuffle-partitionable on u,
    * nothing driver-side.
    */
  private def largeStar(bidir: DataFrame): DataFrame = {
    val m = bidir.groupBy(col("u"))
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    bidir.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** SMALL-STAR over a larger-endpoint-first edge list (u > v): every
    * smaller neighbor (and u itself) re-links to m(u) = min of u's
    * smaller neighbors. Emits edges still oriented u > v by construction
    * (m is the minimum of the set every emitted partner belongs to).
    */
  private def smallStar(oriented: DataFrame): DataFrame = {
    val m = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
    val relinked = oriented.join(m, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val self = m.select(col("u"), col("m").as("v"))
    relinked.union(self)
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connected components by small-star/large-star alternation — the same
    * (v, label = component min) contract as [[connectedComponents]], with
    * the same non-vertex-endpoint semantics (edges are restricted to the
    * vertex set first, so an id outside `vertices` never bridges two
    * components). Use for graphs whose diameter is OUTSIDE the 2–4-round
    * near-dup regime — long chains, grid-ish similarity graphs — where
    * [[connectedComponentsIterative]]'s per-round label crawl pays
    * diameter rounds and refuses at its cap. Per alternation this path
    * costs TWO aggregate+join rounds plus an exact fixpoint check, so on
    * clique-ish near-dup graphs the min-label loop (1 cheap round each,
    * 2–4 total) stays the default.
    *
    * Fixpoint: small-star output stable (exact anti-join check, not a
    * checksum) — at that point the edge list is a star forest rooted at
    * component minima (the paper's invariant), and labels read off as
    * parent pointers. Each round's frames are pinned ([[Materialize]])
    * and released like the min-label loop's.
    */
  def connectedComponentsStar(
      vertices: DataFrame, edges: DataFrame,
      maxRounds: Int = StarMaxRounds): DataFrame = {
    val vset = vertices.select(col("v"))
    val restricted = edges.select(col("i"), col("j"))
      .join(vset.withColumnRenamed("v", "i"), Seq("i"), "left_semi")
      .join(vset.withColumnRenamed("v", "j"), Seq("j"), "left_semi")
    // orient larger-first; drop self loops up front
    var oriented = Materialize.stable(
      restricted
        .select(greatest(col("i"), col("j")).as("u"), least(col("i"), col("j")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(), eager = true)
    var pinned = oriented
    var rounds = 0
    var converged = oriented.isEmpty
    while (!converged) {
      rounds += 1
      if (rounds > maxRounds) {
        Materialize.release(pinned)
        lastIterativeRounds.set(rounds - 1)
        throw new IllegalStateException(
          s"small-star/large-star alternation did not converge within " +
            s"$maxRounds rounds - alternations grow with log(diameter), so " +
            "this is a defect (or a graph beyond any plausible vertex-id " +
            "domain), not a legitimately slow input; do not raise the cap " +
            "without understanding why the edge set is still moving.")
      }
      // large-star input is the BIDIRECTIONAL view of the oriented list
      val bidir = oriented
        .union(oriented.select(col("v").as("u"), col("u").as("v")))
      val afterLarge = largeStar(bidir)
      // large-star emits (bigger, min) pairs — already u > v oriented
      val next = Materialize.stable(smallStar(afterLarge), eager = true)
      // exact fixpoint: the edge SET is unchanged (both directions of the
      // anti-join; counts alone can tie on different sets)
      converged =
        next.join(oriented, Seq("u", "v"), "left_anti").isEmpty &&
          oriented.join(next, Seq("u", "v"), "left_anti").isEmpty
      Materialize.release(pinned)
      pinned = next
      oriented = next
    }
    lastIterativeRounds.set(rounds)
    // star forest: (u, v) = (member, component min); roots and isolated
    // vertices label themselves. The final pinned edge frame stays alive —
    // the returned (lazy) labels read it; the harness's releaseAll drains
    // it after execution, exactly like the min-label loop's return.
    vertices.select(col("v"))
      .join(oriented.select(col("u").as("v"), col("v").as("parent")), Seq("v"), "left")
      .select(col("v"), coalesce(col("parent"), col("v")).as("label"))
  }

  /** q68 — dedup clusters over the bounded near-dup sample: components of
    * the exact-Jaccard(≥0.8) pair graph, one row per sampled doc with its
    * cluster id (= min doc_id in the component) and a per-cluster canonical
    * flag. Oracle: DuckDB recursive-CTE transitive closure — exhaustively
    * correct on the bounded sample; at corpus scale the edge list comes from
    * [[Text.minhashNearDups]] instead and the oracle is the spec's
    * union-find cross-check.
    */
  def dedupClusters(
      spark: SparkSession,
      sfDir: String,
      maxDocId: Long = 100,
      threshold: Double = 0.8): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < maxDocId).select(col("doc_id").as("v"))
    val edges = Text.jaccardPairs(spark, sfDir, maxDocId, threshold)
      .select(col("i"), col("j"))
    connectedComponents(docs, edges)
      .select(
        col("v").as("doc_id"), col("label").as("cluster_id"),
        (col("v") === col("label")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** The recursive-CTE connected-components chain shared by the q68 and
    * q129 oracles — one source of truth for the Jaccard edges and the
    * reachability closure (the [[graft.operators.Sources]] hamiltonCtes
    * discipline).
    */
  private def ccCtes(maxDocId: Long, threshold: Double): String =
    s"""WITH RECURSIVE doc AS (SELECT * FROM documents WHERE doc_id < $maxDocId),
       |tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM doc),
       |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
       |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT i, j FROM pairs
       |  JOIN sz sa ON i = sa.doc_id
       |  JOIN sz sb ON j = sb.doc_id
       |  WHERE common / (sa.sz + sb.sz - common) >= $threshold),
       |bidir AS (SELECT i AS src, j AS dst FROM edges
       |          UNION ALL SELECT j, i FROM edges),
       |reach AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM doc
       |  UNION
       |  SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src)""".stripMargin

  def dedupClustersOracle(maxDocId: Long = 100, threshold: Double = 0.8): String =
    s"""${ccCtes(maxDocId, threshold)}
       |SELECT src AS doc_id, min(dst) AS cluster_id,
       |       (src = min(dst)) AS is_canonical
       |FROM reach
       |GROUP BY src
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q129

  /** q129 — LEAKAGE-FREE (dedup-aware) train/eval split: the q70 split
    * keyed on the document's DEDUP-CLUSTER label instead of its own id, so
    * a near-duplicate pair can never straddle the train/eval boundary —
    * the eval-hygiene step that closes the classic duplicate-leakage hole
    * (an id-keyed split puts two copies of one document on opposite sides
    * and the model is scored on memorized training text). The label IS the
    * cluster's min doc id (q68's contract), so singleton docs split
    * exactly as q70 would split them, and every multi-member cluster moves
    * as a unit under its canonical id's bucket.
    *
    * Scale shape: the clustering is the q68 component pass (or the
    * persisted q115 label store in a real deployment — labels are an
    * ingest-time artifact); the split itself is a narrow map over
    * (doc_id, label) with the same engine-independent multiplicative hash
    * as q70. Oracle-checked against the shared recursive-CTE chain.
    */
  def leakFreeSplit(
      spark: SparkSession,
      sfDir: String,
      maxDocId: Long = 100,
      threshold: Double = 0.8): DataFrame =
    dedupClusters(spark, sfDir, maxDocId, threshold)
      .withColumn("bucket", (col("cluster_id") * 2654435761L) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid")
          .otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))

  def leakFreeSplitOracle(maxDocId: Long = 100, threshold: Double = 0.8): String =
    s"""${ccCtes(maxDocId, threshold)},
       |lab AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_id
       |  FROM reach GROUP BY src)
       |SELECT doc_id, cluster_id,
       |       CASE WHEN (cluster_id * 2654435761) % 100 < 80 THEN 'train'
       |            WHEN (cluster_id * 2654435761) % 100 < 90 THEN 'valid'
       |            ELSE 'test' END AS split
       |FROM lab
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Incremental clustering (q115): assign an arriving delivery to existing
  // dedup clusters without recomputing corpus-wide components.
  // --------------------------------------------------------------------

  /** Write the LABEL STORE: (sdoc_id, slabel) cluster assignments of the
    * ingested corpus — the clustering sibling of the digest/band/cell/gram
    * stores, under the same swap/settle crash protocol. Labels are the min
    * doc id of each component, so a cluster's label row doubles as its
    * canonical-doc record.
    */
  def buildLabelStore(spark: SparkSession, labels: DataFrame, dir: String): Unit = {
    val norm = Lifecycle.settleStore(spark, dir)
    labels.select(col("doc_id").as("sdoc_id"), col("cluster_id").as("slabel"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(norm)
  }

  def ensureLabelStore(
      spark: SparkSession,
      sfDir: String,
      maxDocId: Long = 100,
      threshold: Double = 0.8,
      batchMod: Long = 2,
      batchRem: Long = 1): String =
    graft.Stores.ensure(spark, "label-store", s"$sfDir/documents.parquet",
        s"$maxDocId:$threshold:$batchMod:$batchRem") { dir =>
      val corpus = Tables.documents(spark, sfDir)
        .filter(col("doc_id") < maxDocId && col("doc_id") % batchMod =!= batchRem)
        .select(col("doc_id").as("v"))
      val edges = Text.jaccardPairs(spark, sfDir, maxDocId, threshold)
        .filter(col("i") % batchMod =!= batchRem && col("j") % batchMod =!= batchRem)
        .select(col("i"), col("j"))
      val labels = connectedComponents(corpus, edges)
        .select(col("v").as("doc_id"), col("label").as("cluster_id"))
      buildLabelStore(spark, labels, dir)
    }

  /** Union-find components for a DELIVERY-bounded graph — same (v, label)
    * contract as [[connectedComponents]] (label = component min), different
    * execution: collect the graph, solve on the driver, return a local
    * relation. The increment path's collapsed graph is delivery-sized by
    * the store-family contract (the same boundedness every broadcast probe
    * assumes), so the collect is micro-batch-sized and union-find replaces
    * O(diameter) propagation ROUNDS — each a join+aggregate Spark job —
    * with microseconds. This is what a 1000-executor operator does too:
    * nothing corpus-sized is collected, and [[connectedComponents]] remains
    * the corpus-scale path (q68). Falls back to the distributed propagation
    * if the graph exceeds `maxLocal` vertices or edges (contract violation;
    * correct either way).
    */
  private[graft] def componentsAuto(
      vertices: DataFrame, edges: DataFrame, maxLocal: Int = 2000000): DataFrame = {
    val spark = vertices.sparkSession
    val vs = vertices.select(col("v")).limit(maxLocal + 1).collect().map(_.getLong(0))
    val es = edges.select(col("i"), col("j")).limit(maxLocal + 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (vs.length > maxLocal || es.length > maxLocal)
      return connectedComponents(vertices, edges)
    // shared min-root union-find core (see [[unionFind]]): find() IS the
    // component minimum
    val labels = unionFind(es)
    val allVs = (vs.iterator ++ es.iterator.flatMap(e => Iterator(e._1, e._2)))
      .toArray.distinct
    import scala.jdk.CollectionConverters._
    val rows = allVs.sorted.map(v =>
      org.apache.spark.sql.Row(v, labels.getOrElse(v, v))).toSeq.asJava
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** The collapsed-graph components at the heart of q115. Corpus endpoints
    * of the delivery's pairs are REPLACED BY THEIR STORED CLUSTER LABELS —
    * valid because a stored cluster is internally connected, and exact for
    * the min-label semantics because a cluster's label IS the min doc id of
    * its members. The graph that remains is (batch docs ∪ touched cluster
    * labels) with (batch-batch ∪ batch-label) edges — DELIVERY-sized plus
    * touched clusters, never corpus-sized: the whole point of the store.
    * Returns (v, label) for every vertex of that collapsed graph.
    */
  private[graft] def collapsedIncrement(
      batchDocs: DataFrame, pairs: DataFrame, store: DataFrame): DataFrame = {
    val si = store.select(col("sdoc_id").as("i"), col("slabel").as("li"))
    val sj = store.select(col("sdoc_id").as("j"), col("slabel").as("lj"))
    val collapsed = pairs
      .join(si, Seq("i"), "left")
      .join(sj, Seq("j"), "left")
      .select(
        coalesce(col("li"), col("i")).as("i"),
        coalesce(col("lj"), col("j")).as("j"))
      // a batch pair whose endpoints land in the SAME stored cluster is a
      // self-loop after collapsing — drop it before propagation
      .filter(col("i") =!= col("j"))
    val verts = batchDocs.select(col("doc_id").as("v"))
      .union(collapsed.select(col("i").as("v")))
      .union(collapsed.select(col("j").as("v")))
      .distinct()
    componentsAuto(verts, collapsed)
  }

  /** q115 — INCREMENTAL dedup clustering: which existing cluster does each
    * document of an arriving delivery join (and which docs seed new
    * clusters)? The per-delivery complement of q68's whole-corpus
    * components and the CLUSTERING member of the increment-store family
    * (exact q107, textual q109, semantic q110, decontamination q113).
    *
    * Output per batch doc: its final cluster id — EXACTLY the label a full
    * recompute over corpus+batch would assign (the collapse argument in
    * [[collapsedIncrement]]; DuckDB recursive-CTE oracle) — and whether it
    * joined an existing corpus cluster. Deliveries can also MERGE existing
    * clusters (a batch doc bridging two of them); [[incrementMerges]]
    * emits those records and [[commitIncrement]] applies them to the store
    * with the appended assignments in one crash-safe swap, after which the
    * next delivery's increment sees the merged world — sequential-delivery
    * convergence to the full-graph clustering is spec-pinned.
    *
    * Scale shape: the corpus contributes only the stored labels of clusters
    * the delivery TOUCHES; components are solved by driver union-find on
    * the delivery-sized collapsed graph ([[componentsAuto]] — distributed
    * propagation is the guarded fallback, never the per-delivery cost).
    * Merge application rewrites the store (a corpus-sized narrow map) only
    * when merges occur; merge-free deliveries commit append-only. At
    * extreme scale the rewrite alternative is a broadcast merge log applied
    * lazily at probe time and folded in at compaction — same contract,
    * documented here, not needed at gate scale.
    */
  def clusterIncrement(
      spark: SparkSession,
      sfDir: String,
      maxDocId: Long = 100,
      threshold: Double = 0.8,
      batchMod: Long = 2,
      batchRem: Long = 1): DataFrame = {
    val storeDir = ensureLabelStore(spark, sfDir, maxDocId, threshold, batchMod, batchRem)
    val store = graft.Readers.parquet(spark, Lifecycle.settleStore(spark, storeDir))
    val batchDocs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < maxDocId && col("doc_id") % batchMod === batchRem)
      .select(col("doc_id"))
    val pairs = Text.jaccardPairs(spark, sfDir, maxDocId, threshold)
      .filter(col("i") % batchMod === batchRem || col("j") % batchMod === batchRem)
      .select(col("i"), col("j"))
    val cc = collapsedIncrement(batchDocs, pairs, store)
    val lbl = store.select(col("slabel").as("v")).distinct()
      .withColumn("is_lbl", lit(1L))
    val compFlag = cc.join(lbl, Seq("v"), "left")
      .groupBy(col("label"))
      .agg((sum(coalesce(col("is_lbl"), lit(0L))) > 0).as("joined_existing"))
    cc.filter(col("v") % batchMod === batchRem)
      .join(compFlag, Seq("label"))
      .select(col("v").as("doc_id"), col("label").as("cluster_id"), col("joined_existing"))
      .orderBy(col("doc_id"))
  }

  /** Existing cluster labels this delivery collapses into a new canonical:
    * (old_label, new_label) — the store-label vertices whose component min
    * is no longer themselves.
    */
  private[graft] def incrementMerges(cc: DataFrame, store: DataFrame): DataFrame =
    cc.join(store.select(col("slabel").as("v")).distinct(), Seq("v"))
      .filter(col("v") =!= col("label"))
      .select(col("v").as("old_label"), col("label").as("new_label"))

  /** Commit an admitted delivery: remap merged labels across the store and
    * append the batch assignments, in ONE store swap
    * ([[Lifecycle.rewriteStore]] — a crash between the renames is settled
    * forward by the next store operation). Single-writer maintenance
    * contract, like every store compaction.
    */
  def commitIncrement(
      spark: SparkSession,
      storeDir: String,
      assignments: DataFrame,
      merges: DataFrame): Unit =
    Lifecycle.rewriteStore(spark, storeDir) { (dir, tmp) =>
      spark.read.parquet(dir)
        .join(broadcast(merges.withColumnRenamed("old_label", "slabel")),
          Seq("slabel"), "left")
        .select(
          col("sdoc_id"),
          coalesce(col("new_label"), col("slabel")).as("slabel"))
        .unionByName(assignments.select(
          col("doc_id").as("sdoc_id"), col("cluster_id").as("slabel")))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    }

  def clusterIncrementOracle(
      maxDocId: Long = 100, threshold: Double = 0.8): String =
    s"""WITH RECURSIVE doc AS (SELECT * FROM documents WHERE doc_id < $maxDocId),
       |tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM doc),
       |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
       |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT i, j FROM pairs
       |  JOIN sz sa ON i = sa.doc_id
       |  JOIN sz sb ON j = sb.doc_id
       |  WHERE common / (sa.sz + sb.sz - common) >= $threshold),
       |bidir AS (SELECT i AS src, j AS dst FROM edges
       |          UNION ALL SELECT j, i FROM edges),
       |reach AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM doc
       |  UNION
       |  SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src)
       |SELECT src AS doc_id, min(dst) AS cluster_id,
       |       (sum(CASE WHEN dst % 2 = 0 THEN 1 ELSE 0 END) > 0)
       |         AS joined_existing
       |FROM reach WHERE src % 2 = 1
       |GROUP BY src
       |ORDER BY doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q68_dedup_clusters" -> ((s: SparkSession, d: String) => dedupClusters(s, d)),
    "q115_cluster_increment" -> ((s: SparkSession, d: String) => clusterIncrement(s, d)),
    "q129_leakfree_split" -> ((s: SparkSession, d: String) => leakFreeSplit(s, d)))

  val oracles: Map[String, String] = Map(
    "q68_dedup_clusters" -> dedupClustersOracle(),
    "q115_cluster_increment" -> clusterIncrementOracle(),
    "q129_leakfree_split" -> leakFreeSplitOracle())
}
