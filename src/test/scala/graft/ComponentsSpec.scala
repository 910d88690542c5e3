package graft

import graft.operators.{Components, Text}

class ComponentsSpec extends SparkSpec {

  private def unionFind(n: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(n.map(v => v -> v): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    n.map(v => v -> find(v)).toMap
  }

  test("connected components match a union-find over the same edges") {
    val edges = Text.jaccardPairs(spark, sf0001, 100, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.nonEmpty, "threshold 0.8 should yield edges on the fixture")
    val vertices = (0L until 100L).toSeq
    val want = unionFind(vertices, edges)
    val got = Components.dedupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("property: random graphs match union-find (seeded, 6 shapes, BOTH paths)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 6) {
      val n = 10 + rng.nextInt(30)
      val nEdges = rng.nextInt(2 * n)
      val vertices = (0L until n.toLong).toSeq
      val edges = Seq.fill(nEdges) {
        val a = rng.nextInt(n).toLong
        val b = rng.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val want = unionFind(vertices, edges)
      val got = Components.connectedComponents(
          vertices.toDF("v"),
          edges.toDF("i", "j"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: n=$n edges=${edges.size}")
      // The ITERATIVE (100 TB) path must agree on the same graph — the
      // public entry point takes the driver fast path at these sizes, so
      // exercise the loop explicitly or it silently loses coverage.
      val gotIter = Components.connectedComponentsIterative(
          vertices.toDF("v"),
          edges.toDF("i", "j"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotIter == want, s"iterative trial $trial: n=$n edges=${edges.size}")
      // the r14 star-alternation path must agree too, with exactly one
      // label row per vertex (a non-converged star forest would fan the
      // parent join out — the toMap above would mask duplicates)
      val starRows = Components.connectedComponentsStar(
          vertices.toDF("v"), edges.toDF("i", "j"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(starRows.length == n, s"star trial $trial: ${starRows.length} rows for $n vertices")
      assert(starRows.toMap == want, s"star trial $trial: n=$n edges=${edges.size}")
      graft.operators.Materialize.releaseAll()
    }
  }

  test("edges touching non-vertex ids never bridge components (both paths)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 2 is NOT a vertex: the iterative loop never propagates through a
    // label-less endpoint, so 5 and 9 must stay separate — the fast path
    // has to restrict edges to the vertex set or the driver union-find
    // would merge them through 2.
    val vertices = Seq(5L, 9L).toDF("v")
    val edges = Seq((5L, 2L), (9L, 2L)).toDF("i", "j")
    val fast = Components.connectedComponents(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val iter = Components.connectedComponentsIterative(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == Map(5L -> 5L, 9L -> 9L), s"fast path bridged: $fast")
    assert(iter == fast)
    // the star path restricts edges to the vertex set up front — same
    // contract (operating on raw edges it would happily bridge through 2)
    val star = Components.connectedComponentsStar(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == fast, s"star path bridged: $star")
    graft.operators.Materialize.releaseAll()
  }

  test("propagation past the round cap refuses actionably; an explicit cap completes exactly") {
    import spark.implicits._
    // CHAIN geometry (the r13 CeilingBench worst case): the min label
    // crawls one hop per round, so a 30-vertex path needs ~29 rounds —
    // far past DefaultMaxRounds=12. The loop must REFUSE with the
    // documented small-star/large-star remedy instead of silently paying
    // diameter rounds, and an explicit caller cap (the "I am choosing to
    // pay rounds x per-round-job" escape) must complete with exact labels.
    val n = 30L
    val vertices = (0L until n).toDF("v")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("i", "j")
    val ex = intercept[IllegalStateException] {
      Components.connectedComponentsIterative(vertices, edges).count()
    }
    assert(ex.getMessage.contains("maxRounds") &&
      ex.getMessage.contains("small-star/large-star"),
      s"refusal must name the cap and the remedy: ${ex.getMessage}")
    val got = Components.connectedComponentsIterative(
        vertices, edges, maxRounds = n.toInt + 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n).map(_ -> 0L).toMap,
      "explicit-cap run must label the whole chain 0")
    // the near-dup regime itself stays far inside the cap: the real
    // fixture graph converges without tripping it (2-4 rounds measured)
    val fixtureEdges = Text.jaccardPairs(spark, sf0001, 100, 0.8).select("i", "j")
    val fixtureVerts = (0L until 100L).toDF("v")
    Components.connectedComponentsIterative(fixtureVerts, fixtureEdges).count()
    assert(Components.lastIterativeRounds.get() <= 4,
      s"fixture graph took ${Components.lastIterativeRounds.get()} rounds")
    graft.operators.Materialize.releaseAll()
  }

  test("star alternation solves the chain the min-label cap refuses, in O(log d) rounds") {
    import spark.implicits._
    // The remedy the refusal message names, proven on the refusing
    // geometry: the same 30-vertex path needs ~29 min-label rounds (past
    // DefaultMaxRounds) but contracts to stars within ~log2(30)+c
    // alternations — and the labels are exact.
    val n = 30L
    val vertices = (0L until n).toDF("v")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("i", "j")
    val got = Components.connectedComponentsStar(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == n.toInt)
    assert(got.toMap == (0L until n).map(_ -> 0L).toMap,
      "star path must label the whole chain 0")
    val rounds = Components.lastIterativeRounds.get()
    assert(rounds <= 10, s"star alternation took $rounds rounds on a 30-chain " +
      "(expected O(log diameter), ~5-8)")
    graft.operators.Materialize.releaseAll()
  }

  test("empty vertex set terminates with an empty result, not an NPE") {
    val out = Components.dedupClusters(spark, sf0001, maxDocId = 0)
    assert(out.collect().isEmpty)
  }

  test("cluster increment equals the full recompute restricted to the batch") {
    import org.apache.spark.sql.functions.col
    val full = Components.dedupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inc = Components.clusterIncrement(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(inc.nonEmpty)
    inc.foreach { case (doc, cid, _) =>
      assert(doc % 2 == 1, s"non-batch doc $doc in increment output")
      assert(full(doc) == cid, s"doc $doc: increment label $cid vs full ${full(doc)}")
    }
    assert(inc.map(_._1).toSet == full.keySet.filter(_ % 2 == 1),
      "increment must cover every batch doc")
    // both flag values must occur, or the fixture is vacuous for the flag
    assert(inc.exists(_._3) && inc.exists(!_._3),
      "fixture should contain both joined and new-cluster batch docs")
  }

  test("sequential deliveries with commit converge to the full clustering") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 100)
    val pairs = graft.operators.Text.jaccardPairs(spark, sf0001, 100, 0.8)
      .select(col("i"), col("j"))
    // corpus = even ids; delivery A = ids ≡ 1 (mod 4); delivery B = ids ≡ 3
    val dir = java.nio.file.Files.createTempDirectory("graft-lstore").toString + "/s"
    val corpus = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id").as("v"))
    val corpusEdges = pairs.filter(col("i") % 2 === 0 && col("j") % 2 === 0)
    Components.buildLabelStore(spark,
      Components.connectedComponents(corpus, corpusEdges)
        .select(col("v").as("doc_id"), col("label").as("cluster_id")), dir)
    def delivery(rem: Long): Unit = {
      val store = spark.read.parquet(dir)
      val batch = docs.filter(col("doc_id") % 4 === rem).select(col("doc_id"))
      // pairs touching this delivery whose other endpoint has ARRIVED
      // (corpus, a committed delivery, or this batch) — never a future one
      val arrived = (c: org.apache.spark.sql.Column) =>
        if (rem == 3L) c % 2 === 0 || c % 4 === 1 || c % 4 === 3
        else c % 2 === 0 || c % 4 === rem
      val bp = pairs.filter(
        (col("i") % 4 === rem || col("j") % 4 === rem) &&
          arrived(col("i")) && arrived(col("j")))
      val cc = graft.operators.Materialize.stable(
        Components.collapsedIncrement(batch, bp, store), eager = true)
      try {
        val assigns = cc.join(batch.withColumnRenamed("doc_id", "v"), Seq("v"))
          .select(col("v").as("doc_id"), col("label").as("cluster_id"))
        Components.commitIncrement(spark, dir, assigns,
          Components.incrementMerges(cc, store))
      } finally graft.operators.Materialize.release(cc)
    }
    delivery(1L)
    delivery(3L)
    val got = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Components.dedupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full,
      s"committed store diverged from full clustering: " +
        s"diff=${(got.toSet diff full.toSet).take(5)} / ${(full.toSet diff got.toSet).take(5)}")
  }

  test("a commit carries the store sentinel: the next ensure serves the committed rows") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // non-default params: a private store this test may mutate, then delete
    val ensure = () => Components.ensureLabelStore(spark, sf0001, maxDocId = 60)
    val dir = ensure()
    try {
      val before = spark.read.parquet(dir).count()
      Components.commitIncrement(spark, dir,
        Seq((1000000L, 1000000L)).toDF("doc_id", "cluster_id"),
        Seq.empty[(Long, Long)].toDF("old_label", "new_label"))
      assert(ensure() == dir)
      val after = spark.read.parquet(dir)
      assert(after.count() == before + 1, "ensure rebuilt over the committed increment")
      assert(after.filter(col("sdoc_id") === 1000000L).count() == 1)
    } finally Seq(dir, dir + "_old", dir + "_compacting").foreach { d =>
      val f = new java.io.File(d)
      if (f.exists()) java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("transitivity: clusters merge through shared members; canonicals are minima") {
    val rows = Components.dedupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // cluster id is a member of its own cluster and is its minimum
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid)
      assert(members.count(_._3) == 1, s"exactly one canonical per cluster $cid")
    }
    // there is at least one non-trivial cluster (size > 2 means a transitive
    // merge happened beyond a single pair, or several pairs chained)
    assert(byCluster.values.exists(_.length > 2),
      "fixture should produce a chained cluster; threshold may be off")
  }

  test("leak-free split: clusters never straddle a boundary; singletons match the id split") {
    val clusters = Components.dedupClusters(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = Components.leakFreeSplit(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length == clusters.size)
    // (a) exact split formula over the cluster label
    got.foreach { case (doc, cl, split) =>
      assert(cl == clusters(doc))
      val b = cl * 2654435761L % 100
      val want = if (b < 80) "train" else if (b < 90) "valid" else "test"
      assert(split == want, s"doc $doc")
    }
    // (b) the defining invariant: one split per cluster
    got.groupBy(_._2).foreach { case (cl, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"cluster $cl straddles splits")
    }
    // (c) the leakage this op exists to prevent is REAL on the fixture: at
    // least one multi-member cluster would straddle under the raw id split
    val leaky = got.groupBy(_._2).values.exists { rows =>
      rows.length > 1 && rows.map { case (doc, _, _) =>
        val b = doc * 2654435761L % 100
        if (b < 80) "train" else if (b < 90) "valid" else "test"
      }.distinct.length > 1
    }
    assert(leaky, "fixture has no cluster the id-keyed split would leak — gate is vacuous")
  }
}
