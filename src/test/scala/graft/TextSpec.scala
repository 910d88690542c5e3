package graft

import graft.operators.Text

class TextSpec extends SparkSpec {

  test("dup attribution: planted intra and cross duplicates land in the right buckets") {
    import spark.implicits._
    // web: "aa" twice (intra) and "bb" mirrored by books (cross);
    // books: the "bb" mirror plus a unique doc; feeds: all unique.
    val docs = Seq(
      ("web", "aa"), ("web", "aa"), ("web", "bb"), ("web", "un1"),
      ("books", "bb"), ("books", "un2"),
      ("feeds", "un3"))
      .toDF("source", "text")
    val got = graft.operators.Text.dupAttributionOf(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // (n_docs, n_dup_docs, n_intra_dup, n_cross_dup)
    assert(got("web") == ((4L, 3L, 2L, 1L)), s"web: ${got("web")}")
    assert(got("books") == ((2L, 1L, 0L, 1L)), s"books: ${got("books")}")
    assert(got("feeds") == ((1L, 0L, 0L, 0L)), s"feeds: ${got("feeds")}")
  }

  test("property: dup attribution matches a driver recompute on seeded random corpora") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    for (round <- 1 to 3) {
      // 200 docs over 4 sources and 40 contents — heavy collision rates so
      // every bucket (unique / intra / cross / both) is exercised
      val docs = (1 to 200).map { _ =>
        (s"src${rng.nextInt(4)}", s"t${rng.nextInt(40)}")
      }
      val got = graft.operators.Text.dupAttributionOf(docs.toDF("source", "text"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val tot = docs.groupBy(_._2).map { case (t, rs) => t -> rs.size }
      val bySrcText = docs.groupBy(identity).map { case (k, rs) => k -> rs.size }
      val expect = docs.groupBy(_._1).map { case (s, rows) =>
        s -> ((rows.size.toLong,
          rows.count(r => tot(r._2) > 1).toLong,
          rows.count(r => bySrcText((s, r._2)) > 1).toLong,
          rows.count(r => tot(r._2) > bySrcText((s, r._2))).toLong))
      }
      assert(got == expect, s"round $round")
    }
  }

  test("minhash near-dups: precision 1.0 and recall >= 0.8 vs exact jaccard") {
    val exact = Text.jaccardPairs(spark, sf0001, 100, 0.95)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Text.minhashNearDups(spark, sf0001, 100)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(exact), "verification step must make precision 1.0")
    if (exact.nonEmpty) {
      val recall = (exact & mh).size.toDouble / exact.size
      assert(recall >= 0.8, s"minhash recall=$recall over ${exact.size} true pairs")
    }
  }

  test("containment: blocked scale path equals the exact baseline at full recall") {
    // at the fixtures every token's df is far below the default dfCap, so
    // the rare-unit blocking has FULL candidate recall and the two paths
    // share exact scoring — outputs must be identical rows
    val exact = Text.containmentPairs(spark, sf0001).collect().map(_.toSeq).toSeq
    val blocked = Text.containmentNearDups(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty, "fixture should contain high-containment pairs")
    assert(blocked == exact)
  }

  test("containment: catches a planted subset pair Jaccard misses; dfCap blocks as contracted") {
    import spark.implicits._
    // doc 1 = 3 rare tokens, all inside doc 2's 30-token set:
    // containment(1->2) = 1.0 but jaccard = 3/30 = 0.1
    val big = (0 until 30).map(i => (2L, s"tok$i"))
    val tok = ((0 until 3).map(i => (1L, s"tok$i")) ++ big).toDF("doc_id", "t")
    val got = Text.containmentNearDupsOf(tok, dfCap = 1024, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 1.0, 0.1)),
      s"planted subset pair not found exactly: ${got.toSeq}")
    // the same pair is invisible at jaccard >= 0.95 (the relation q33/q34 test)
    // — directed containment is a genuinely different detector
    // blocking contract: with dfCap 1 every shared unit (df=2) is "too
    // common", so the pair is deliberately missed — the documented recall
    // tradeoff, not a bug
    assert(Text.containmentNearDupsOf(tok, dfCap = 1, threshold = 0.95).isEmpty)
  }

  test("containment: randomized corpus matches a driver-side brute force exactly") {
    import spark.implicits._
    // seeded random token-set corpus — not the fixtures, so the detector is
    // pinned on arbitrary overlap structure, not one planted shape
    val rng = new scala.util.Random(1234)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs: Seq[(Long, Set[String])] = (0 until 30).map { id =>
      val sz = 3 + rng.nextInt(12)
      (id.toLong, Seq.fill(sz)(vocab(rng.nextInt(vocab.size))).toSet)
    }
    val threshold = 0.6
    val brute = (for {
      (i, a) <- docs; (j, b) <- docs if i < j
      common = (a & b).size.toDouble if common > 0
      ci = common / a.size; cj = common / b.size
      if math.max(ci, cj) >= threshold
    } yield ((i, j), (math.rint(ci * 10000) / 10000, math.rint(cj * 10000) / 10000))).toMap
    assert(brute.nonEmpty, "generator should produce containment pairs")
    val tok = docs.flatMap { case (id, ts) => ts.map(t => (id, t)) }.toDF("doc_id", "t")
    val got = Text.containmentNearDupsOf(tok, dfCap = 1000, threshold = threshold)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3)))).toMap
    assert(got == brute, s"mismatch: extra=${got.keySet -- brute.keySet} missing=${brute.keySet -- got.keySet}")
  }

  test("shingle near-dups: match brute force, and catch pairs token methods miss") {
    import org.apache.spark.sql.functions.{col, explode}
    // brute-force ground truth over the SAME sampled shingle universe the
    // detector uses (mod-3 digest sampling — collected via the shared
    // shingleSet expression, so the universes cannot drift)
    val sh: Map[Long, Set[Long]] = Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(Text.shingleSet(8, 3)).as("t"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val ids = sh.keys.toSeq.sorted
    val brute = (for {
      (i, idx) <- ids.zipWithIndex; j <- ids.drop(idx + 1)
      jac = (sh(i) & sh(j)).size.toDouble / (sh(i) | sh(j)).size
      if jac >= 0.9
    } yield (i, j)).toSet
    assert(brute.nonEmpty, "fixture should plant sequence-level near-dups")

    val got = Text.shingleNearDups(spark, sf0001).collect()
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1.0 by construction (exact verification); recall from the
    // banding bound: jac>=0.9 => P(band match) >= .9^4 = .656 per band,
    // 3 bands (k=12) => miss probability ~4% per borderline pair, less for
    // the planted dups sitting above the threshold
    assert(gotPairs.subsetOf(brute), s"false positives: ${gotPairs -- brute}")
    val recall = (brute & gotPairs).size.toDouble / brute.size
    assert(recall >= 0.75, s"shingle recall=$recall of ${brute.size} true pairs")
    // emitted jaccard values are the exact shingle jaccard
    got.foreach { r =>
      val (i, j) = (r.getLong(0), r.getLong(1))
      val jac = (sh(i) & sh(j)).size.toDouble / (sh(i) | sh(j)).size
      assert(math.abs(jac - r.getDouble(2)) < 1e-3)
    }
    // sequence-level and token-set-level near-dups are different relations:
    // the token detector (word-order invariant) must NOT find these pairs
    val tokenPairs = Text.minhashNearDups(spark, sf0001, maxDocId = 1000)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((gotPairs -- tokenPairs).nonEmpty || tokenPairs.isEmpty,
      "expected at least one shingle pair invisible to the token-set detector")
  }

  test("simhash: identical texts get identical signatures; determinism") {
    val t = "spark scan filter join window agg".split(" ").toSeq
    assert(Text.simhash64(t) == Text.simhash64(t))
    assert(Text.simhash64(t) != Text.simhash64(t.map(_.reverse)))
    val r1 = Text.simhashQuery(spark, sf0001).collect()
    val r2 = Text.simhashQuery(spark, sf0001).collect()
    assert(r1.toSeq == r2.toSeq)
  }

  test("simhash: near-identical token multisets have small hamming distance") {
    val base = Seq.fill(30)("alpha") ++ Seq.fill(25)("beta") ++ Seq.fill(20)("gamma") ++
      Seq("delta", "epsilon", "zeta", "eta", "theta")
    val tweaked = base.dropRight(1) :+ "iota"
    val unrelated = Seq.fill(30)("one") ++ Seq.fill(25)("two") ++ Seq.fill(20)("three") ++
      Seq("four", "five", "six", "seven", "eight")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val near = ham(Text.simhash64(base), Text.simhash64(tweaked))
    val far = ham(Text.simhash64(base), Text.simhash64(unrelated))
    assert(near < far, s"near=$near far=$far")
    assert(near <= 16)
  }

  test("simhash banding finds EXACTLY the brute-force hamming<=3 pairs") {
    // Pigeonhole: d < nBands guarantees recall 1.0; the hamming filter makes
    // precision 1.0 — so banding output must EQUAL the all-pairs baseline.
    val sigs = Text.simhashQuery(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (i, hi) <- sigs; (j, hj) <- sigs
      if i < j && java.lang.Long.bitCount(hi ^ hj) <= 3
    } yield (i, j)).toSet
    val banded = Text.simhashNearDups(spark, sf0001)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"banding missed ${(brute -- banded).size}, extra ${(banded -- brute).size}")
    assert(brute.nonEmpty, "fixture should contain hamming<=3 pairs")
  }

  test("fingerprint: stable, shift-tolerant min-gram hash") {
    val t = "the quick brown fox jumps over the lazy dog"
    assert(Text.fingerprint(t) == Text.fingerprint(t))
    // winnowing property: a prefix edit far from the minimal 8-gram usually
    // keeps the fingerprint; at minimum, determinism + long-text support hold
    assert(Text.fingerprint("x" + t.drop(1)) != 0L)
    val r1 = Text.fingerprintQuery(spark, sf0001).collect()
    val r2 = Text.fingerprintQuery(spark, sf0001).collect()
    assert(r1.toSeq == r2.toSeq)
  }

  test("langid: deterministic guess for every document") {
    val r1 = Text.langIdQuery(spark, sf0001).collect()
    val r2 = Text.langIdQuery(spark, sf0001).collect()
    assert(r1.toSeq == r2.toSeq)
    assert(r1.length == 500)
    assert(r1.forall(r => Seq("de", "en", "es", "fr", "zh").contains(r.getString(2))))
  }

  test("repetition stats match a driver-side recompute") {
    val docs = Tables.documents(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 200)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val got = Text.repetitionStats(spark, sf0001).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val ts = docs(r.getLong(0)).split(" ").toSeq
      val bigrams = ts.sliding(2).map(_.mkString(" ")).toSeq
      val dupFrac = (bigrams.size - bigrams.distinct.size).toDouble / bigrams.size
      val topFrac = ts.groupBy(identity).values.map(_.size).max.toDouble / ts.size
      assert(r.getLong(1) == ts.size)
      // query output is round(x, 4): allow the half-ulp of that rounding
      assert(math.abs(r.getDouble(2) - dupFrac) <= 5.001e-5, s"doc ${r.getLong(0)} dup_bigram_frac")
      assert(math.abs(r.getDouble(3) - topFrac) <= 5.001e-5, s"doc ${r.getLong(0)} top_tok_frac")
      assert(r.getBoolean(4) == (dupFrac <= 0.2 && topFrac <= 0.2), s"doc ${r.getLong(0)} keep")
    }
    // the fixture plants at least one repetitious doc worth dropping
    assert(got.exists(!_.getBoolean(4)), "expected a dropped doc in the fixture")
  }

  test("decontamination reports exactly the docs sharing an 8-gram with the eval set") {
    val grams: Map[Long, Set[String]] = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map { r =>
        val ts = r.getString(1).split(" ")
        r.getLong(0) -> ts.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet
      }.toMap
    val evalIds = grams.keySet.filter(_ % 19 == 3)
    val expected = grams.collect {
      case (id, gs) if id % 19 != 3 && gs.size > 0 =>
        val hits = evalIds.filter(e => (grams(e) & gs).nonEmpty)
        val shared = evalIds.flatMap(e => grams(e) & gs)
        id -> ((shared.size.toLong, hits.size.toLong))
    }.filter(_._2._1 > 0)
    val got = Text.decontaminate(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, s"got=$got expected=$expected")
    assert(got.nonEmpty, "fixture should plant cross-split contamination")
  }

  test("clean corpus: survivors are exactly the canonical docs passing every filter") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val canon = docs.groupBy(_._2).values.map(_.map(_._1).min).toSet
    val expected = docs.filter { case (id, text) =>
      val ts = text.split(" ").toSeq
      val bigrams = ts.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val dupFrac =
        if (bigrams.isEmpty) 0.0
        else (bigrams.size - bigrams.distinct.size).toDouble / bigrams.size
      val topFrac = ts.groupBy(identity).values.map(_.size).max.toDouble / ts.size
      val stopFrac = ts.count(Seq("the", "a").contains).toDouble / ts.size
      canon(id) && ts.size >= 15 && dupFrac <= 0.1 && topFrac <= 0.2 && stopFrac <= 0.2
    }.map(_._1).toSet
    val got = Text.cleanCorpus(spark, sf0001).collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"missing=${(expected -- got).toSeq.sorted.take(5)} extra=${(got -- expected).toSeq.sorted.take(5)}")
    // the gate must exercise the filters: something survives, something drops
    assert(expected.nonEmpty && expected.size < docs.length)
  }

  test("prepareCorpus equals the independent composition of its stages, each doing work") {
    import org.apache.spark.sql.functions.col
    // Stage order is restrict-FIRST: canonicals (exact and near-dup) are
    // chosen among the docs still eligible, never absorbed by an eval-side
    // or quality-rejected copy. Ground truth re-derives stage 3 with a
    // driver-side union-find over the pair artifact restricted to the
    // stage-2 survivor set — independent of the distributed CC path.
    val clean = Text.cleanCorpusOf(
      Tables.documents(spark, sf0001).filter(col("doc_id") % 19 =!= 3))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = spark.read.parquet(Text.ensureShinglePairs(spark, sf0001))
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (i, j) => clean(i) && clean(j) }
    val parent = scala.collection.mutable.Map(clean.toSeq.map(v => v -> v): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nearSurvivors = clean.filter(v => find(v) == v)
    val contaminated = Text.decontaminate(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = nearSurvivors -- contaminated
    val got = Text.prepareCorpus(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    // every stage must bite at the fixture, or the composition gate is
    // vacuously the clean set
    assert((clean -- nearSurvivors).nonEmpty, "near-dedup stage dropped nothing")
    assert((clean & contaminated).nonEmpty, "decontamination stage dropped nothing")
    assert(got.nonEmpty && got.size < clean.size)
  }

  test("crossDocLineRewriteIndexed (q193 gate path) equals the inline rewrite row-for-row") {
    val inline = Text.crossDocLineRewrite(spark, sf0001).collect().map(_.toSeq).toSeq
    val staged = Text.crossDocLineRewriteIndexed(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(staged == inline)
    assert(inline.nonEmpty)
  }

  test("prepareCorpusFromStages (q101 gate path) equals the inline recipe row-for-row") {
    // The gate derives from persisted stage artifacts (clean survivors,
    // shingle pairs, decontamination verdict); each artifact is the
    // deterministic output of the stage the inline recipe runs, so the two
    // compositions must agree on every row and column.
    val inline = Text.prepareCorpus(spark, sf0001).collect().map(_.toSeq).toSeq
    val staged = Text.prepareCorpusFromStages(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(staged == inline)
  }

  test("incremental dedup: batch survivors are exactly the new-content canonicals") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val existing = docs.filter(_._1 % 7 != 0).map(_._2).toSet
    val batch = docs.filter(_._1 % 7 == 0)
    val expected = batch.groupBy(_._2)
      .map { case (text, xs) => xs.map(_._1).min -> text }
      .collect { case (id, text) if !existing(text) => id }
      .toSet
    val got = Text.dedupIncrement(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size <= batch.length)
  }

  test("stored-increment dedup returns exactly the direct increment's rows") {
    val direct = Text.dedupIncrement(spark, sf0001).collect().toSeq
    val stored = Text.dedupIncrementStored(spark, sf0001).collect().toSeq
    assert(stored == direct,
      s"store path diverged: ${stored.size} vs ${direct.size} rows")
    assert(direct.nonEmpty)
  }

  test("decontamination increment equals the direct computation restricted to the batch") {
    import org.apache.spark.sql.functions.col
    val direct = Text.decontaminate(spark, sf0001)
      .filter(col("doc_id") % 2 === 1).collect().toSeq
    val inc = Text.decontaminateIncrement(spark, sf0001).collect().toSeq
    assert(direct.nonEmpty, "no contaminated docs in the batch at the fixture — vacuous")
    assert(inc == direct,
      s"store path diverged from direct: ${inc.size} vs ${direct.size} rows")
  }

  test("gram store: replayed appends and compaction never change counts; params guard bites") {
    import org.apache.spark.sql.functions.col
    val doc = Tables.documents(spark, sf0001)
    val ev = doc.filter(col("doc_id") % 19 === 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-gstore").toString + "/s"
    Text.buildGramStore(spark, ev, dir)
    val batch = doc.filter(col("doc_id") % 19 =!= 3 && col("doc_id") % 2 === 1)
    def counts() = Text.decontaminateBatchAgainstStore(spark, batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = counts()
    assert(before.nonEmpty)
    // at-least-once replay: the same suite registered twice must be invisible
    Text.appendToGramStore(spark, dir, ev)
    assert(counts() == before, "replayed append changed increment counts")
    Text.compactStore(spark, dir)
    assert(counts() == before, "compaction changed increment counts")
    // gram-length drift must fail fast (append AND probe)
    val e = intercept[IllegalArgumentException] {
      Text.appendToGramStore(spark, dir, ev, gram = 4)
    }
    assert(e.getMessage.contains("signed under"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Text.decontaminateBatchAgainstStore(spark, batch, dir, gram = 4)
    }
    assert(e2.getMessage.contains("signed under"), e2.getMessage)
    // a never-built path must refuse, not report zero contamination
    val e3 = intercept[IllegalArgumentException] {
      Text.decontaminateBatchAgainstStore(spark, batch, dir + "-nope")
    }
    assert(e3.getMessage.contains("build it first"), e3.getMessage)
  }

  test("span digests: rolling pass equals direct per-window hashing; equal windows collide") {
    import org.apache.spark.unsafe.types.UTF8String
    val s = "abcabcabcxyzabcabc"
    val L = 5
    val arr = Text.spanDigestArrayData(UTF8String.fromString(s), L)
    assert(arr.numElements() == s.length - L + 1)
    val direct = (0 until arr.numElements()).map { k =>
      val sub = s.substring(k, k + L)
      var h1 = 0L; var h2 = 0L
      sub.foreach { c => h1 = h1 * 31L + c; h2 = h2 * 1000003L + c }
      (k + 1, h1, h2)
    }
    (0 until arr.numElements()).foreach { k =>
      val row = arr.getStruct(k, 3)
      assert((row.getInt(0), row.getLong(1), row.getLong(2)) == direct(k),
        s"rolling digest diverges from direct at pos ${k + 1}")
    }
    // identical windows ("abcab" at pos 1 and 4) collide; the full digest
    // set is otherwise distinct on this string
    assert(direct(0)._2 == direct(3)._2 && direct(0)._3 == direct(3)._3)
    // shorter-than-L text yields no windows, not a crash
    assert(Text.spanDigestArrayData(UTF8String.fromString("abc"), L).numElements() == 0)
  }

  test("duplicated spans: ranges cross-foot the summary; sampled path is subset-of-exact with recall") {
    import org.apache.spark.sql.functions.col
    val L = 40
    val summary = Text.duplicatedSpans(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(summary.nonEmpty, "no duplicated spans at the fixture — vacuous")
    // the cut list must cross-foot the summary exactly: span count and
    // union coverage per doc; ranges orderly, disjoint with >L-char gaps
    // (adjacent-or-overlapping runs would have merged), inside the doc
    val ranges = Text.duplicatedSpanRanges(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val byDoc = ranges.groupBy(_._1)
    assert(byDoc.keySet == summary.keySet)
    val lens = Tables.documents(spark, sf0001)
      .select(col("doc_id"), org.apache.spark.sql.functions.length(col("text")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (doc, rs) =>
      val (_, nSpans, nChars) = summary(doc)
      assert(rs.length.toLong == nSpans, s"doc $doc: ${rs.length} ranges vs $nSpans spans")
      assert(rs.map(r => r._4 - r._3 + 1).sum.toLong == nChars,
        s"doc $doc: range coverage does not cross-foot n_dup_chars")
      val sorted = rs.sortBy(_._3)
      sorted.foreach { case (_, _, s, e) =>
        assert(s >= 1 && e >= s + L - 1 && e <= lens(doc), s"doc $doc bad range [$s,$e]")
      }
      sorted.sliding(2).foreach {
        case Array((_, _, _, e1), (_, _, s2, _)) =>
          assert(s2 > e1 + 1, s"doc $doc: unmerged adjacent spans $e1 -> $s2")
        case _ => ()
      }
    }
    // content-sampled detector: doc-level precision 1 (subset of exact),
    // high recall on the fixture's long planted runs
    val sampled = Text.duplicatedSpans(spark, sf0001, sampleMod = 3).collect()
      .map(_.getLong(0)).toSet
    assert(sampled.nonEmpty)
    assert(sampled.subsetOf(summary.keySet), s"sampled found non-dup docs: ${sampled -- summary.keySet}")
    val recall = sampled.size.toDouble / summary.keySet.size
    assert(recall >= 0.7, s"sampled recall=$recall over ${summary.keySet.size} docs")
  }

  test("duplicated spans: the sampling valve self-engages from corpus size; auto is exact at fixture scale") {
    import Text.{deriveSampleMod, AutoSampleExactChars}
    // policy: exact through the documented char threshold...
    assert(deriveSampleMod(0L) == 1)
    assert(deriveSampleMod(500L * 1000 * 1000) == 1, "sf0.1-scale corpora stay exact")
    assert(deriveSampleMod(AutoSampleExactChars) == 1)
    // ...then doubling with each corpus doubling (constant shuffle bytes)...
    assert(deriveSampleMod(AutoSampleExactChars + 1) == 2)
    assert(deriveSampleMod(AutoSampleExactChars * 4) == 4)
    assert(deriveSampleMod(AutoSampleExactChars * 64) == 64)
    // ...capped at 256 — 100 TB of chars derives the cap, never beyond
    assert(deriveSampleMod(100L * 1000 * 1000 * 1000 * 1000) == 256)
    assert(deriveSampleMod(Long.MaxValue) == 256)
    // monotone non-decreasing: growing a corpus can never sharpen sampling
    val probes = Seq(1L, 1L << 20, 1L << 33, (1L << 33) + 1, 1L << 40, 1L << 50, Long.MaxValue)
    probes.sliding(2).foreach { case Seq(a, b) =>
      assert(deriveSampleMod(a) <= deriveSampleMod(b), s"non-monotone at $a -> $b")
    }
    // the gate's operating point: the AUTO default at the fixture derives
    // mod 1, so the driver's DuckDB hash-check row stays the EXACT detector
    val auto = Text.duplicatedSpans(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val exact = Text.duplicatedSpans(spark, sf0001, sampleMod = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(auto == exact, "auto-derived sampleMod must be exact at fixture scale")
  }

  test("stored span ranges equal the live detection's cut list") {
    // q174 serves the cut list from the prebuilt hit artifact; it must be
    // row-for-row the live composition (same digest pass, same merge).
    val live = Text.duplicatedSpanRanges(spark, sf0001).collect().map(_.toSeq).toSeq
    val stored = Text.duplicatedSpanRangesStored(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(live.nonEmpty && stored == live, s"stored=${stored.size} live=${live.size}")
  }

  test("prepare-corpus increment equals the composition of its four stage gates") {
    import org.apache.spark.sql.functions.col
    val got = Text.prepareCorpusIncrement(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // independent composition of the individually-gated stages
    val delivery = Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 19 =!= 3 && col("doc_id") % 7 === 0)
    val cleaned = Text.cleanCorpusOf(delivery).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val inStore = Text.dedupBatchAgainstStore(spark, delivery,
        Text.ensureDigestStore(spark, sf0001))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val nearDups = Text.nearDupIncrement(spark, sf0001)
      .select(col("i")).collect().map(_.getLong(0)).toSet
    val contaminated = Text.decontaminateBatchAgainstStore(spark, delivery,
        Text.ensureGramStore(spark, sf0001), 8)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val want = cleaned
      .filter { case (id, _, _) => inStore(id) && !nearDups(id) && !contaminated(id) }
      .sortBy(_._1)
    assert(got == want, s"composition drift: got=${got.size} want=${want.size}")
    assert(got.nonEmpty, "no survivors at the fixture — vacuous")
    assert(got.size < cleaned.size,
      "no stage past cleaning dropped anything at the fixture — vacuous composition")
  }

  test("near-dup increment equals the cross-split subset of the corpus-wide detector") {
    // Same units, same seeds, same band construction, same exact-Jaccard
    // verification: a pair band-collides in the increment iff it collides
    // in the whole-corpus q77 run, so the increment's result must be
    // EXACTLY the q77 pairs with one side in the batch split and one in
    // the corpus split (reoriented batch-first).
    val corpusWide = Text.shingleNearDups(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = corpusWide.flatMap { case (i, j, jac4) =>
      if (i % 7 == 0 && j % 7 != 0) Some((i, j, jac4))
      else if (j % 7 == 0 && i % 7 != 0) Some((j, i, jac4))
      else None
    }.toSet
    assert(expected.nonEmpty, "no cross-split near-dup pairs at the fixture — vacuous")
    val got = Text.nearDupIncrement(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"increment diverged from corpus-wide cross-split pairs: " +
        s"${got.size} vs ${expected.size}; " +
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("band store: append equals rebuild; params guard refuses a drifted append; compact dedups") {
    import org.apache.spark.sql.functions.col
    val doc = Tables.documents(spark, sf0001)
    val a = doc.filter(col("doc_id") < 250)
    val b = doc.filter(col("doc_id") >= 250)
    def rows(dir: String) = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val inc = java.nio.file.Files.createTempDirectory("graft-bstore-inc").toString + "/s"
    Text.buildBandStore(spark, a, inc)
    Text.appendToBandStore(spark, inc, b)
    val full = java.nio.file.Files.createTempDirectory("graft-bstore-full").toString + "/s"
    Text.buildBandStore(spark, doc, full)
    assert(rows(inc) == rows(full), "append+build must equal a full rebuild")
    // parameter drift must fail fast, not silently mis-sign
    val e = intercept[IllegalArgumentException] {
      Text.appendToBandStore(spark, inc, b, k = 8)
    }
    assert(e.getMessage.contains("signed under"), e.getMessage)
    // a replayed append duplicates rows; compaction retires the debt and
    // keeps the row SET and the params marker
    Text.appendToBandStore(spark, inc, b)
    assert(spark.read.parquet(inc).count() > rows(full).size)
    Text.compactStore(spark, inc)
    assert(rows(inc) == rows(full), "compaction changed the row set")
    assert(spark.read.parquet(inc).count() == rows(full).size,
      "compaction left duplicate rows")
    Text.appendToBandStore(spark, inc, b.limit(0)) // params marker survived
  }

  test("digest store compaction preserves increment survivors") {
    import org.apache.spark.sql.functions.col
    val doc = Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-dstore").toString + "/s"
    Text.buildDigestStore(spark, doc.filter(col("doc_id") % 7 =!= 0), dir)
    val batch = doc.filter(col("doc_id") % 7 === 0)
    def survivors() = Text.dedupBatchAgainstStore(spark, batch, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = survivors()
    // simulate replayed appends: duplicate digest rows in the store
    Text.appendToDigestStore(spark, dir,
      Text.docDigests(doc.filter(col("doc_id") % 7 === 1)))
    Text.appendToDigestStore(spark, dir,
      Text.docDigests(doc.filter(col("doc_id") % 7 === 1)))
    val dupped = survivors()
    Text.compactStore(spark, dir)
    assert(survivors() == dupped, "compaction changed survivors")
    assert(dupped.subsetOf(before), "appends can only shrink the survivor set")
    // crash between the swap's two renames: live dir gone, the only
    // complete copy in _old — the next store operation must roll it
    // forward, not let an append recreate a near-empty live dir
    val fs = graft.operators.Lifecycle.fsOf(spark, dir)
    require(fs.rename(
      new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "_old")))
    assert(survivors() == dupped, "crashed swap not settled by the probe")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "_old")) ||
      fs.exists(new org.apache.hadoop.fs.Path(dir)),
      "settle left the store in _old")
  }

  test("ensure* settles a crashed swap instead of rebuilding; digest append refuses a never-built path") {
    // appendToDigestStore on a never-built path must refuse (the band twin
    // refuses via _params): SaveMode.Append would otherwise silently create
    // a near-empty store whose probes admit every duplicate.
    val missing =
      java.nio.file.Files.createTempDirectory("graft-dstore-missing").toString + "/nope"
    val e = intercept[IllegalArgumentException] {
      Text.appendToDigestStore(spark, missing,
        Text.docDigests(Tables.documents(spark, sf0001).limit(1)))
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
    // A crashed compaction swap on an ensure-managed store: live dir gone,
    // only complete copy in _old, sentinel check false — ensure must settle
    // and roll the store forward, NOT blindly rebuild a corpus-only store
    // beside _old. A _canary marker distinguishes roll-forward (canary
    // survives) from rebuild (canary gone); underscore files are invisible
    // to parquet reads.
    for ((name, ensure) <- StoreRegistry.entries(spark, sf0001)) {
      val dir = ensure()
      val fs = graft.operators.Lifecycle.fsOf(spark, dir)
      val canary = new org.apache.hadoop.fs.Path(s"$dir/_canary")
      fs.create(canary, true).close()
      require(fs.rename(
        new org.apache.hadoop.fs.Path(dir),
        new org.apache.hadoop.fs.Path(dir + "_old")))
      val again = ensure()
      assert(again == dir)
      assert(fs.exists(canary),
        s"ensure rebuilt over a crashed swap instead of settling it ($name)")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "_old")) ||
        fs.exists(new org.apache.hadoop.fs.Path(dir)))
      fs.delete(canary, false)
    }
    // The append and probe entry points settle too: with the live dir in
    // _old, an append that recreated it would leave the real store to be
    // deleted by the next compaction's staging cleanup. batchRem = 1 keys
    // stores private to this test, which it mutates and then drops.
    val docs = Tables.documents(spark, sf0001).limit(3)
    for ((name, ensure, use) <- Seq[(String, () => String, String => Unit)](
        ("span", () => Text.ensureSpanStore(spark, sf0001, batchRem = 1, sampleMod = 1),
          d => Text.appendToSpanStore(spark, d, docs)),
        ("linedict", () => Text.ensureLineDictStore(spark, sf0001, batchRem = 1),
          d => Text.appendToLineDictStore(spark, d, docs)),
        ("novelty", () => Text.ensureNoveltyGramStore(spark, sf0001, batchRem = 1, sampleMod = 1),
          d => { Text.noveltyBatchAgainstStore(spark, docs, d).count(); () }))) {
      val dir = ensure()
      val fs = graft.operators.Lifecycle.fsOf(spark, dir)
      val canary = new org.apache.hadoop.fs.Path(s"$dir/_canary")
      fs.create(canary, true).close()
      require(fs.rename(
        new org.apache.hadoop.fs.Path(dir),
        new org.apache.hadoop.fs.Path(dir + "_old")))
      use(dir)
      assert(fs.exists(canary), s"$name entry point did not settle the crashed swap")
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      fs.delete(new org.apache.hadoop.fs.Path(dir + "_old"), true)
    }
  }

  test("denylist redaction matches driver-side regex replacement and bites") {
    val pat = Text.DefaultDenylist.mkString("\\b(", "|", ")\\b")
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.flatMap { case (id, text) =>
      val m = pat.r.findAllIn(text).size
      if (m > 0) Some((id, m.toLong, text.replaceAll(pat, "[REDACTED]"))) else None
    }.sortBy(_._1).toSeq
    val got = Text.redactDenylist(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == expected)
    // the gate must exercise real replacements, including the rare term
    assert(got.nonEmpty, "denylist never matched — vacuous gate")
    assert(got.exists(_._3.contains("[REDACTED]")))
  }

  test("corpus datasheet cross-foots the stage gates") {
    val ds = Text.corpusDatasheet(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001)
    val totalDocs = docs.count()
    val distinctTexts = docs.select("text").distinct().count()
    // every doc lands in exactly one source row
    assert(ds.map(_.getLong(1)).sum == totalDocs)
    // exact-dup count = docs minus distinct texts (each group keeps one canonical)
    assert(ds.map(_.getLong(3)).sum == totalDocs - distinctTexts)
    // contamination column sums to the q80 gate's row count
    assert(ds.map(_.getLong(5)).sum == Text.decontaminate(spark, sf0001).count())
    // quality filter must bite but not annihilate at the fixture
    val ok = ds.map(_.getLong(4)).sum
    assert(ok > 0 && ok < totalDocs)
  }

  test("quality-aware dedup keeps the most-trusted copy, not the lowest id") {
    import spark.implicits._
    val doc = Seq(
      (1L, "web", "aaa bbb"),   // same text, untrusted source, LOWER id
      (2L, "wiki", "aaa bbb"),  // same text, trusted source — must win
      (3L, "web", "ccc ddd"),   // singleton survives regardless of trust
      (4L, "wiki", "aaa bbb"))  // trusted but higher id — loses the tie
      .toDF("doc_id", "source", "text")
    val trust = Seq("wiki" -> 0L).toDF("source", "trust")
    val got = Text.dedupBestOf(doc, trust)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 3L), s"expected trusted copy 2 and singleton 3: $got")
  }

  test("exact dedup: synthetic duplicates collapse to canonical id") {
    import spark.implicits._
    val df = Seq(
      (1L, "aaa bbb"), (2L, "aaa bbb"), (3L, "ccc ddd"), (4L, "aaa bbb"))
      .toDF("doc_id", "text")
    val out = df.groupBy("text")
      .agg(org.apache.spark.sql.functions.min($"doc_id").as("doc_id"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("copies"))
      .select("doc_id", "copies").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 3L), (3L, 1L)))
  }
  test("nfc canonical dedup: case, whitespace, and unicode-composition variants collapse") {
    import spark.implicits._
    // café composed (U+00E9), decomposed (e + U+0301), an upper-case
    // extra-whitespace variant, and a tab/newline-bracketed variant
    // (collapse must run BEFORE trim — trim alone strips only spaces) are
    // ONE canonical group; a distinct text is not
    val docs = Seq(
      (1L, "caf\u00e9 one"), (2L, "cafe\u0301 one"), (3L, "  CAF\u00c9   one "),
      (4L, "\tcaf\u00e9\none\n"), (5L, "other")).toDF("doc_id", "text")
    val got = Text.normalizedDedupOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 4L), (5L, 1L)), got.toString)
  }

  test("nfc normalize expression: ascii identity, composition, null pass-through") {
    import spark.implicits._
    val got = Seq(Option("abc"), Option("e\u0301"), Option.empty[String])
      .toDF("text")
      .select(org.apache.spark.sql.graft.TextExpressions
        .nfcNormalize(org.apache.spark.sql.functions.col("text")).as("n"))
      .collect().map(r => Option(r.getString(0)))
    assert(got.toSeq == Seq(Some("abc"), Some("\u00e9"), None), got.mkString(","))
  }

  test("line dedup: planted duplicate lines count lines and reclaimed tokens exactly") {
    import spark.implicits._
    // width 2 -> doc 1 lines: [a b][c d][a b][e]: 4 lines, 1 dup, 2 tokens
    // removed; doc 2 has no dups and must be filtered out of the gate shape
    val docs = Seq((1L, "a b c d a b e"), (2L, "x y x z")).toDF("doc_id", "text")
    val got = Text.lineDedupOf(docs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 4L, 1L, 2L)), got.mkString(","))
    // width 1: doc 1 dups are the 2nd a/b/c?? -> tokens a,b,c,d,a,b,e: 7 lines,
    // dups = second a + second b = 2 instances, 2 tokens; doc 2: second x
    val got1 = Text.lineDedupOf(docs, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got1.toSeq == Seq((1L, 7L, 2L, 2L), (2L, 4L, 1L, 1L)), got1.mkString(","))
  }

  test("property: line dedup matches a driver recompute across widths on random corpora") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val vocab = Array("a", "b", "c", "d", "e")
    val docs = (1L to 120L).map { id =>
      (id, (0 until (1 + rng.nextInt(24))).map(_ => vocab(rng.nextInt(5))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for (w <- Seq(1, 2, 3, 5)) {
      val got = Text.lineDedupOf(df, w).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val want = docs.flatMap { case (id, text) =>
        val lines = text.split(" ").grouped(w).map(_.toSeq).toSeq
        val nDup = lines.size - lines.distinct.size
        val removed = {
          val seen = scala.collection.mutable.HashSet[Seq[String]]()
          lines.filterNot(seen.add).map(_.size.toLong).sum
        }
        if (nDup > 0) Some(id -> ((lines.size.toLong, nDup.toLong, removed))) else None
      }.toMap
      assert(got == want, s"width $w")
    }
  }

  test("span increment: store-served probe equals the full detector restricted to the batch") {
    val direct = Text.duplicatedSpans(spark, sf0001).collect()
      .filter(_.getLong(0) % 7 == 0)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val stored = Text.spanIncrement(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(stored.nonEmpty && stored == direct,
      s"stored ${stored.size} rows, direct ${direct.size}")
  }

  test("span increment: both hit legs fire; replayed appends converge") {
    import spark.implicits._
    val run = "the quick brown fox jumps over the lazy dog again and again!" // 61 chars
    val other = "x" * 45
    val corpus = Seq(
      (1L, s"corpus prefix one $run corpus suffix"),
      (2L, s"unrelated $other body")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-spanstore-spec").toString
    Text.buildSpanStore(spark, corpus, dir)
    // delivery doc 10 shares the run with CORPUS doc 1 (store leg);
    // docs 11/12 share a run with EACH OTHER only (in-batch leg);
    // doc 13 is clean and must not appear
    val inbatch = "zW" * 25
    val delivery = Seq(
      (10L, s"new page $run trailing"),
      (11L, s"first copy $inbatch a"),
      (12L, s"second copy $inbatch b"),
      (13L, "totally novel content with nothing shared at all, and long enough."))
      .toDF("doc_id", "text")
    val got = Text.spanBatchAgainstStore(spark, delivery, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.map(_._1) == Seq(10L, 11L, 12L), got.mkString(","))
    // doc 10: the shared region is " $run " (the flanking spaces are
    // shared too) = 63 chars → 24 windows, one merged span, 63 covered
    assert(got.head == ((10L, 24L, 1L, 63L)), got.head.toString)
    // replay convergence: appending the delivery once vs twice (an
    // at-least-once redelivery) must leave a later probe IDENTICAL
    Text.appendToSpanStore(spark, dir, delivery)
    val probe2 = Seq((20L, s"third copy $inbatch c")).toDF("doc_id", "text")
    val once = Text.spanBatchAgainstStore(spark, probe2, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(once.map(_._1) == Seq(20L), s"appended run not found: $once")
    Text.appendToSpanStore(spark, dir, delivery) // replay
    val twice = Text.spanBatchAgainstStore(spark, probe2, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(twice == once, s"replayed append changed the probe: $twice vs $once")
    // a never-built store path refuses the append, never silently creates
    intercept[IllegalArgumentException] {
      Text.appendToSpanStore(spark, dir + "-nonexistent", delivery)
    }
  }

  test("novelty increment: store-served probe equals the full audit restricted to the batch") {
    val direct = Text.gramNovelty(spark, sf0001).collect()
      .filter(_.getLong(0) % 7 == 0)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val stored = Text.noveltyIncrement(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(stored.nonEmpty && stored == direct,
      s"stored ${stored.size} rows, direct ${direct.size}")
  }

  test("novelty increment: both hit legs fire; replayed appends converge") {
    import spark.implicits._
    val run = "a b c d e f g h" // one 8-gram
    val corpus = Seq(
      (1L, s"p q r $run s t u"),
      (2L, "k l m n o k2 l2 m2 n2 o2")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-noveltystore-spec").toString
    Text.buildNoveltyGramStore(spark, corpus, dir)
    // delivery doc 10 shares [a..h] with CORPUS doc 1 (store leg);
    // docs 11/12 share a gram with EACH OTHER only (in-batch leg);
    // doc 13 is fully novel
    val pair = "v1 v2 v3 v4 v5 v6 v7 v8"
    val delivery = Seq(
      (10L, s"x y $run z w"),
      (11L, s"h1 $pair"),
      (12L, s"h2 $pair"),
      (13L, "n1 n2 n3 n4 n5 n6 n7 n8 n9")).toDF("doc_id", "text")
    val got = Text.noveltyBatchAgainstStore(spark, delivery, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 10 (12 tokens): 5 grams, exactly the [a..h] one shared; 11/12:
    // 2 grams each, the trailing [v1..v8] gram shared; 13: 2 grams, none
    assert(got == Seq((10L, 5L, 1L), (11L, 2L, 1L), (12L, 2L, 1L), (13L, 2L, 0L)),
      got.mkString(","))
    // replay convergence: append once vs twice → later probe identical
    Text.appendToNoveltyGramStore(spark, dir, delivery)
    val probe2 = Seq((20L, s"h3 $pair")).toDF("doc_id", "text")
    val once = Text.noveltyBatchAgainstStore(spark, probe2, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(once == Seq((20L, 2L, 1L)), s"appended gram not found: $once")
    Text.appendToNoveltyGramStore(spark, dir, delivery) // replay
    val twice = Text.noveltyBatchAgainstStore(spark, probe2, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(twice == once, s"replayed append changed the probe: $twice vs $once")
    intercept[IllegalArgumentException] {
      Text.appendToNoveltyGramStore(spark, dir + "-nonexistent", delivery)
    }
  }

  test("novelty store probe: randomized corpus/delivery pairs match a driver-side model") {
    import spark.implicits._
    // a delivery gram is shared if the STORE has it or ANOTHER delivery doc
    // has it; zero-shared docs stay visible (novelty is the point)
    val rnd = new scala.util.Random(83641L)
    val alphabet = Array("a", "b", "c")
    val rounds = 1 to 4
    rounds.foreach { round =>
      val gram = 2 + rnd.nextInt(2)
      def randDocs(ids: Range): Seq[(Long, String)] = ids.map { id =>
        (id.toLong, Array.fill(1 + rnd.nextInt(8))(
          alphabet(rnd.nextInt(alphabet.length))).mkString(" "))
      }
      val corpus = randDocs(1 to (3 + rnd.nextInt(5)))
      val delivery = randDocs(101 to (103 + rnd.nextInt(5)))
      def gramsOf(text: String): Set[Seq[String]] = {
        val toks = text.split(" ").toSeq
        if (toks.length < gram) Set.empty else toks.sliding(gram).map(_.toSeq).toSet
      }
      val store: Set[Seq[String]] = corpus.flatMap(d => gramsOf(d._2)).toSet
      val byDoc = delivery.map { case (id, t) => id -> gramsOf(t) }
      val want = byDoc.filter(_._2.nonEmpty).map { case (id, gs) =>
        val shared = gs.count(g => store.contains(g) ||
          byDoc.exists { case (oid, og) => oid != id && og.contains(g) })
        (id, gs.size.toLong, shared.toLong)
      }.sortBy(_._1)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-novelty-prop$round").toString
      Text.buildNoveltyGramStore(spark, corpus.toDF("doc_id", "text"), dir, gram)
      val got = Text.noveltyBatchAgainstStore(
          spark, delivery.toDF("doc_id", "text"), dir, gram).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want, s"round $round gram=$gram: $got vs $want")
    }
  }

  test("gram novelty: planted shared grams counted exactly; sampling thins consistently") {
    import spark.implicits._
    // docs 1/2 share exactly the 8-gram [a..h] (their only overlap);
    // doc 3 is fully novel; doc 4 is shorter than a gram and must be absent
    val docs = Seq(
      (1L, "a b c d e f g h i"),
      (2L, "a b c d e f g h z"),
      (3L, "p q r s t u v w x y"),
      (4L, "too short doc")).toDF("doc_id", "text")
    val got = Text.gramNoveltyOf(docs, 8, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, 500000L), (2L, 2L, 1L, 500000L), (3L, 3L, 0L, 0L)),
      got.mkString(","))
    // content sampling: per doc, the sampled gram universe is a SUBSET of
    // the exact one in both counters (the q114 precision-1 argument)
    val fixture = Tables.documents(spark, sf0001)
    val exact = Text.gramNoveltyOf(fixture, 8, 1).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val sampled = Text.gramNoveltyOf(fixture, 8, 3).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(sampled.nonEmpty)
    sampled.foreach { case (id, (n, s)) =>
      val (en, es) = exact(id)
      assert(n <= en && s <= es, s"doc $id: sampled ($n,$s) exceeds exact ($en,$es)")
    }
  }

  test("gram novelty: randomized corpora match a driver-side distinct-gram model") {
    import spark.implicits._
    // tiny alphabet + short grams force heavy cross-document gram sharing;
    // short docs exercise the below-gram-width absence rule
    val rnd = new scala.util.Random(61553L)
    val alphabet = Array("a", "b", "c", "d", "e")
    val rounds = 1 to 5
    rounds.foreach { round =>
      val gram = 2 + rnd.nextInt(3)
      val nDocs = 5 + rnd.nextInt(8)
      val docs0 = (1 to nDocs).map { id =>
        val n = 1 + rnd.nextInt(10)
        (id.toLong,
          Array.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString(" "))
      }
      val gramsByDoc: Map[Long, Set[Seq[String]]] = docs0.map { case (id, t) =>
        val toks = t.split(" ").toSeq
        id -> (if (toks.length < gram) Set.empty[Seq[String]]
               else toks.sliding(gram).map(_.toSeq).toSet)
      }.toMap
      val want = gramsByDoc.toSeq.filter(_._2.nonEmpty).map { case (id, gs) =>
        val shared = gs.count(g =>
          gramsByDoc.exists { case (oid, og) => oid != id && og.contains(g) })
        (id, gs.size.toLong, shared.toLong, shared.toLong * 1000000L / gs.size)
      }.sortBy(_._1)
      val got = Text.gramNoveltyOf(docs0.toDF("doc_id", "text"), gram, 1)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == want, s"round $round gram=$gram: $got vs $want")
    }
  }

  test("string stats: lengths, charset, and collision ppm match a driver recompute") {
    val got = Text.stringStats(spark, sf0001).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6)))).toMap
    val docs = Tables.documents(spark, sf0001)
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = docs.groupBy(_._1).map { case (lang, rs) =>
      val lens = rs.map(_._2.length.toLong)
      val chars = rs.flatMap(_._2.toCharArray).groupBy(identity)
        .map { case (_, cs) => cs.length.toLong }
      val t = chars.sum
      lang -> (rs.size.toLong, lens.min, lens.max,
        math.floor(lens.sum.toDouble / rs.size * 1e4 + 0.5) / 1e4,
        chars.size.toLong,
        chars.map(c => c * c).sum * 1000000L / (t * t))
    }
    assert(got == want, s"got $got want $want")
    // concentration sanity: collision ppm must exceed the uniform floor
    got.foreach { case (lang, (_, _, _, _, k, ppm)) =>
      assert(ppm >= 1000000L / k, s"$lang below uniform floor") }
  }

  test("line dedup increment: stored side canonical, in-delivery keep-first, replay converges") {
    import spark.implicits._
    // corpus owns line [h f]; delivery doc 10 carries it (store leg removes
    // EVERY delivery copy, even the first) plus fresh [a b]; doc 11 repeats
    // [a b] (in-delivery keep-first leg); doc 12 is clean
    val corpus = Seq((1L, "h f x y")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-linedict-spec").toString
    Text.buildLineDictStore(spark, corpus, dir)
    val delivery = Seq(
      (10L, "h f a b"), (11L, "a b c d"), (12L, "u v w z"))
      .toDF("doc_id", "text")
    val got = Text.lineDedupBatchAgainstStore(spark, delivery, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((10L, 2L, 1L, 2L), (11L, 2L, 1L, 2L)), got.mkString(","))
    // replay: append the delivery once vs twice — a later probe must see
    // the identical dictionary
    Text.appendToLineDictStore(spark, dir, delivery)
    val probe2 = Seq((20L, "c d q r")).toDF("doc_id", "text")
    val once = Text.lineDedupBatchAgainstStore(spark, probe2, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(once == Seq((20L, 2L, 1L, 2L)), s"appended line not found: $once")
    Text.appendToLineDictStore(spark, dir, delivery)
    val twice = Text.lineDedupBatchAgainstStore(spark, probe2, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(twice == once, s"replayed append changed the probe: $twice vs $once")
    intercept[IllegalArgumentException] {
      Text.appendToLineDictStore(spark, dir + "-nonexistent", delivery)
    }
  }

  test("line-dict store probe: randomized corpus/delivery pairs match a driver-side model") {
    import spark.implicits._
    // store leg removes EVERY delivery copy of a corpus line (even the
    // first); the in-delivery leg is keep-first among fresh lines — both
    // modeled driver-side over random tiny-alphabet corpora
    val rnd = new scala.util.Random(75209L)
    val alphabet = Array("a", "b", "c")
    val rounds = 1 to 4
    rounds.foreach { round =>
      val w = 1 + rnd.nextInt(3)
      def randDocs(ids: Range): Seq[(Long, String)] = ids.map { id =>
        (id.toLong, Array.fill(2 + rnd.nextInt(7))(
          alphabet(rnd.nextInt(alphabet.length))).mkString(" "))
      }
      val corpus = randDocs(1 to (3 + rnd.nextInt(5)))
      val delivery = randDocs(101 to (103 + rnd.nextInt(5)))
      def linesOf(text: String): Seq[(String, Long)] =
        text.split(" ").grouped(w).map(g => (g.mkString(" "), g.length.toLong)).toSeq
      val store: Set[String] = corpus.flatMap(d => linesOf(d._2).map(_._1)).toSet
      case class Occ(doc: Long, idx: Long, line: String, ntoks: Long)
      val occs = delivery.flatMap { case (id, t) =>
        linesOf(t).zipWithIndex.map { case ((l, n), i) => Occ(id, i + 1L, l, n) } }
      val firstFresh = occs.filterNot(o => store.contains(o.line))
        .groupBy(_.line).view.mapValues(_.minBy(o => (o.doc, o.idx))).toMap
      def removed(o: Occ): Boolean =
        store.contains(o.line) || firstFresh(o.line) != o
      val want = occs.groupBy(_.doc).toSeq.map { case (d, os) =>
        (d, os.size.toLong, os.count(removed).toLong,
          os.filter(removed).map(_.ntoks).sum)
      }.filter(_._3 > 0).sortBy(_._1)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-linedict-prop$round").toString
      Text.buildLineDictStore(spark, corpus.toDF("doc_id", "text"), dir, w)
      val got = Text.lineDedupBatchAgainstStore(
          spark, delivery.toDF("doc_id", "text"), dir, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == want, s"round $round w=$w: $got vs $want")
    }
  }

  test("cross-doc line dedup: planted boilerplate removed keep-first; counters exact") {
    import spark.implicits._
    // width-2 lines: doc 1 [h f][a b][c d] owns "h f" and "a b";
    // doc 2 [h f][e g] loses its "h f" copy; doc 3 [h f][a b] loses BOTH
    // (kept_text ''); doc 4 is unique and appears in neither gate shape.
    val docs = Seq(
      (1L, "h f a b c d"), (2L, "h f e g"), (3L, "h f a b"), (4L, "u v w"))
      .toDF("doc_id", "text")
    val got = Text.crossDocLineDedupOf(docs, 2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((2L, 2L, 1L, 2L), (3L, 2L, 2L, 4L)), got.mkString(","))
    val rw = Text.crossDocLineRewriteOf(docs, 2, 2).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rw.toSeq == Seq((2L, "e g"), (3L, "")), rw.mkString(","))
    // intra-document copies fall under the same GLOBAL keep-first ownership
    val intra = Seq((1L, "p q p q")).toDF("doc_id", "text")
    val g2 = Text.crossDocLineDedupOf(intra, 2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(g2.toSeq == Seq((1L, 2L, 1L, 2L)), g2.mkString(","))
    // a minOcc above every planted frequency disarms removal entirely
    assert(Text.crossDocLineDedupOf(docs, 2, 4).collect().isEmpty)
  }

  test("cross-doc line dedup/rewrite: randomized corpora match a driver-side keep-first model") {
    import spark.implicits._
    // tiny alphabet forces heavy cross-document line collisions; random
    // widths and thresholds exercise the ceil-division tail chunk, the
    // intra-document ownership, and the all-lines-removed rewrite ('')
    val rnd = new scala.util.Random(40817L)
    val alphabet = Array("a", "b", "c", "d")
    case class Occ(doc: Long, idx: Long, line: String, ntoks: Long)
    val rounds = 1 to 6
    rounds.foreach { round =>
      val nDocs = 6 + rnd.nextInt(8)
      val docs0 = (1 to nDocs).map { id =>
        val n = 2 + rnd.nextInt(9)
        (id.toLong,
          Array.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString(" "))
      }
      val w = 1 + rnd.nextInt(3)
      val minOcc = 2 + rnd.nextInt(2)
      val occs = docs0.flatMap { case (id, text) =>
        text.split(" ").grouped(w).zipWithIndex.map { case (g, i) =>
          Occ(id, i + 1L, g.mkString(" "), g.length.toLong) }
      }
      val counts = occs.groupBy(_.line).view.mapValues(_.size).toMap
      val firsts = occs.groupBy(_.line).view
        .mapValues(os => os.minBy(o => (o.doc, o.idx))).toMap
      def removed(o: Occ): Boolean =
        counts(o.line) >= minOcc && firsts(o.line) != o
      val byDoc = occs.groupBy(_.doc)
      val wantSum = byDoc.toSeq.map { case (d, os) =>
        (d, os.size.toLong, os.count(removed).toLong,
          os.filter(removed).map(_.ntoks).sum)
      }.filter(_._3 > 0).sortBy(_._1)
      val wantRw = byDoc.toSeq
        .filter { case (_, os) => os.exists(removed) }
        .map { case (d, os) =>
          (d, os.filterNot(removed).sortBy(_.idx).map(_.line).mkString(" ")) }
        .sortBy(_._1)
      val df = docs0.toDF("doc_id", "text")
      val gotSum = Text.crossDocLineDedupOf(df, w, minOcc).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(gotSum == wantSum,
        s"round $round w=$w minOcc=$minOcc: $gotSum vs $wantSum")
      val gotRw = Text.crossDocLineRewriteOf(df, w, minOcc).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(gotRw == wantRw,
        s"round $round w=$w minOcc=$minOcc rewrite: $gotRw vs $wantRw")
    }
  }

  test("cross-doc dedup summary and rewrite cross-foot on the fixture") {
    val sum = Text.crossDocLineDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3)))).toMap
    import org.apache.spark.sql.functions.col
    val orig = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val rw = Text.crossDocLineRewrite(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rw.nonEmpty && rw.map(_._1).toSet == sum.keySet,
      "summary and rewrite must flag the same documents")
    rw.foreach { case (id, kept) =>
      val keptToks = if (kept.isEmpty) 0L else kept.split(" ").length.toLong
      val origToks = orig(id).split(" ").length.toLong
      assert(origToks - keptToks == sum(id)._2,
        s"doc $id: reclaimed-token counter disagrees with the actual rewrite")
    }
  }
  test("span/line-dict/novelty stores refuse parameter drift by name, append and probe") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j " + ("k " * 30).trim),
      (2L, "a b c d e f g h m n " + ("z " * 30).trim)).toDF("doc_id", "text")
    // span store: signed under (spanLen, sampleMod); any drifted append or
    // probe is refused by name, a matching one still lands
    val sdir = java.nio.file.Files.createTempDirectory("graft-spandrift").toString
    Text.buildSpanStore(spark, docs, sdir, spanLen = 10, sampleMod = 1)
    val s1 = intercept[IllegalArgumentException] {
      Text.appendToSpanStore(spark, sdir, docs, spanLen = 11)
    }
    assert(s1.getMessage.contains("signed under"), s1.getMessage)
    val s2 = intercept[IllegalArgumentException] {
      Text.spanBatchAgainstStore(spark, docs, sdir, spanLen = 10, sampleMod = 2)
    }
    assert(s2.getMessage.contains("signed under"), s2.getMessage)
    Text.appendToSpanStore(spark, sdir, docs, spanLen = 10)
    assert(Text.spanBatchAgainstStore(spark, docs, sdir, spanLen = 10).count() >= 0)
    // line dictionary: signed under lineWidth
    val ldir = java.nio.file.Files.createTempDirectory("graft-linedrift").toString
    Text.buildLineDictStore(spark, docs, ldir, lineWidth = 2)
    val l1 = intercept[IllegalArgumentException] {
      Text.appendToLineDictStore(spark, ldir, docs, lineWidth = 3)
    }
    assert(l1.getMessage.contains("signed under"), l1.getMessage)
    val l2 = intercept[IllegalArgumentException] {
      Text.lineDedupBatchAgainstStore(spark, docs, ldir, lineWidth = 3)
    }
    assert(l2.getMessage.contains("signed under"), l2.getMessage)
    Text.appendToLineDictStore(spark, ldir, docs)
    assert(Text.lineDedupBatchAgainstStore(spark, docs, ldir).count() >= 0)
    // novelty gram store: signed under (gram, sampleMod)
    val ndir = java.nio.file.Files.createTempDirectory("graft-novdrift").toString
    Text.buildNoveltyGramStore(spark, docs, ndir, gram = 8, sampleMod = 1)
    val n1 = intercept[IllegalArgumentException] {
      Text.appendToNoveltyGramStore(spark, ndir, docs, gram = 4)
    }
    assert(n1.getMessage.contains("signed under"), n1.getMessage)
    val n2 = intercept[IllegalArgumentException] {
      Text.noveltyBatchAgainstStore(spark, docs, ndir, gram = 8, sampleMod = 2)
    }
    assert(n2.getMessage.contains("signed under"), n2.getMessage)
    Text.appendToNoveltyGramStore(spark, ndir, docs)
    assert(Text.noveltyBatchAgainstStore(spark, docs, ndir).count() >= 0)
  }

  test("ensure-store crash sentinel: a missing _params marker forces a rebuild, not a poisoned cache") {
    // _params is written LAST at build: a crash between the data commit
    // and the marker must leave a dir the next ensure* call REBUILDS —
    // caching it would serve a half-built store (or, for a signed store,
    // one that refuses every append/probe). Rows are counted over every
    // parquet file under the store, so multi-part layouts count too.
    def rows(dir: String): Long =
      spark.read.option("recursiveFileLookup", "true").parquet(dir).count()
    StoreRegistry.entries(spark, sf0001)
      .foreach { case (name, ensure) =>
        val dir = ensure()
        val marker = new java.io.File(dir, "_params")
        assert(marker.exists(), s"$name: _params must be the completion sentinel")
        val before = rows(dir)
        assert(marker.delete(), s"$name: could not simulate the crash")
        val dir2 = ensure()
        assert(dir2 == dir, s"$name: rebuild must land in the keyed cache dir")
        assert(new java.io.File(dir, "_params").exists(),
          s"$name: rebuild must restore the sentinel")
        assert(rows(dir) == before, s"$name: rebuilt store drifted from the original")
      }
  }

  test("cross-doc line dedup/rewrite: past the broadcast ceiling the equi-join fallback is result-identical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "h f a b c d"), (2L, "h f e g"), (3L, "h f a b"), (4L, "u v w"))
      .toDF("doc_id", "text")
    val conf = spark.conf
    val prevAuto = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      // disable every AUTO broadcast too, so broadcastMaxRows=0 genuinely
      // exercises the shuffled equi-join (at real scale a tens-of-GB
      // dictionary is past the auto threshold anyway)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val slow = Text.crossDocLineDedupOf(docs, 2, 2, broadcastMaxRows = 0)
      val got = slow.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(!slow.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        s"over-ceiling path must not broadcast:\n${slow.queryExecution.executedPlan}")
      assert(got == Seq((2L, 2L, 1L, 2L), (3L, 2L, 2L, 4L)), got.mkString(","))
      val slowRw = Text.crossDocLineRewriteOf(docs, 2, 2, broadcastMaxRows = 0)
      val gotRw = slowRw.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(!slowRw.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        s"over-ceiling rewrite must not broadcast:\n${slowRw.queryExecution.executedPlan}")
      assert(gotRw == Seq((2L, "e g"), (3L, "")), gotRw.mkString(","))
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      prevAdaptive match {
        case Some(v) => conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
    // fixture cross-check: fallback equals the broadcast path row-for-row
    val fixture = Tables.documents(spark, sf0001)
    def rows(maxRows: Long): Seq[(Long, Long, Long, Long)] =
      Text.crossDocLineDedupOf(fixture, 2, 2, maxRows).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val fast = rows(Text.LineDictBroadcastMaxRows)
    val fb = rows(0)
    assert(fast.nonEmpty && fb == fast,
      s"fallback drifted from broadcast path: ${fb.size} vs ${fast.size} rows")
  }

  test("normalized dedup: randomized variant corpora match a driver canonical grouping") {
    import spark.implicits._
    val rnd = new scala.util.Random(52901L)
    val words = Array("the", "cat", "sat", "mat", "on")
    def canon(s: String): String =
      java.text.Normalizer.normalize(
        s.replaceAll("[ \\t\\n\\r\\f\\x0B]+", " ")
          .replaceAll("^ +| +$", "").toLowerCase,
        java.text.Normalizer.Form.NFC)
    val rounds = 1 to 4
    rounds.foreach { round =>
      val bases = Array.fill(3 + rnd.nextInt(3))(
        Array.fill(1 + rnd.nextInt(4))(words(rnd.nextInt(words.length))).mkString(" "))
      val docs0 = (1 to (6 + rnd.nextInt(8))).map { id =>
        val b = bases(rnd.nextInt(bases.length))
        val t = rnd.nextInt(3) match {
          case 0 => b
          case 1 => b.map(c => if (rnd.nextBoolean()) c.toUpper else c).mkString
          case _ => "\t" + b.replace(" ", "  ") + " \n"
        }
        (id.toLong, t)
      }
      val want = docs0.groupBy(d => canon(d._2)).values.toSeq
        .map(g => (g.map(_._1).min, g.size.toLong)).sortBy(_._1)
      val got = Text.normalizedDedupOf(docs0.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == want, s"round $round: $got vs $want")
    }
  }

  test("normalized decontamination: randomized case/whitespace variants match a driver canonical model") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(91103L)
    val words = Array("yes", "it", "is", "fine", "now")
    def canon(s: String): String =
      java.text.Normalizer.normalize(
        s.replaceAll("[ \\t\\n\\r\\f\\x0B]+", " ")
          .replaceAll("^ +| +$", "").toLowerCase,
        java.text.Normalizer.Form.NFC)
    def randText(): String =
      Array.fill(1 + rnd.nextInt(4))(words(rnd.nextInt(words.length))).mkString(" ")
    def perturb(s: String): String = {
      val cased = s.map(c => if (rnd.nextBoolean()) c.toUpper else c)
      val ws = Array(" ", "\t", "  ", " \n")
      val spaced = cased.flatMap(c =>
        if (c == ' ') ws(rnd.nextInt(ws.length)) else c.toString).mkString
      (if (rnd.nextBoolean()) "\t" else "") + spaced + (if (rnd.nextBoolean()) " \n" else "")
    }
    val rounds = 1 to 4
    rounds.foreach { round =>
      val evals = (101 to (102 + rnd.nextInt(3))).map(id => (id.toLong, randText()))
      val train = (1 to (4 + rnd.nextInt(6))).map { id =>
        val t = if (rnd.nextBoolean()) perturb(evals(rnd.nextInt(evals.size))._2)
                else randText()
        (id.toLong, t)
      }
      val want = evals.map { case (id, t) =>
        (id, train.count(tr => canon(tr._2) == canon(t)).toLong)
      }.sortBy(_._1)
      val got = Text.decontaminateNormalizedOf(
          (train ++ evals).toDF("doc_id", "text"), col("doc_id") >= 100L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == want, s"round $round: $got vs $want")
    }
  }

  test("normalized decontamination: planted case/whitespace leaks are caught, short items too") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // eval doc 3 ("yes it is") is 3 tokens — INVISIBLE to an 8-gram check —
    // and leaks twice into train via a case variant and a whitespace variant;
    // eval doc 6 is clean; train doc 2 matches nothing
    val docs = Seq(
      (1L, "Yes it is"), (2L, "unrelated text"), (4L, "yes\tit  is "),
      (3L, "yes it is"), (6L, "clean eval item")).toDF("doc_id", "text")
    val got = Text.decontaminateNormalizedOf(docs, col("doc_id") % 3 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((3L, 2L), (6L, 0L)), got.toString)
  }
}
