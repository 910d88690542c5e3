package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Ranked text retrieval over `documents` — the scoring half of a search
  * engine (the reference wraps Elasticsearch, whose non-vector half IS a
  * TF-IDF/BM25 ranker; SURVEY.md §2.B term-set match row covers the boolean
  * part, this file covers the scored part).
  *
  * Scale notes (100 TB): both scorers are two hash aggregates (per-doc term
  * frequencies, then per-term document frequencies — the "inverted index
  * statistics") plus a broadcast join of the tiny per-term idf table back to
  * the postings. Nothing wider than the query's own posting lists ever
  * shuffles; corpus statistics (N, avgdl) ride along as broadcast scalars.
  *
  * Determinism discipline (the oracle hash-compares bitwise): TF-IDF scores
  * are computed as INTEGERS — idf is scaled to 1e4 and rounded half-up once
  * (`⌊ln(N/df)·10⁴+½⌋`, the Det.quant house form), so scores are exact
  * BIGINT sums and the ranking
  * cannot be perturbed by float summation order in either engine. BM25
  * rounds each per-term contribution to 1e-6 and sums those as BIGINT (the
  * same treatment), dividing back once at the end; the gate additionally
  * orders output by doc_id so scores are payload, not sort keys.
  */
object Retrieval {

  private def tokens(c: Column): Column = split(c, " ")

  /** Default query: one rare term (df≈5% of docs in the fixtures) + two
    * common ones, so the idf weighting visibly drives the ranking.
    */
  val DefaultTerms: Seq[String] = Seq("dup", "vector", "hash")

  /** Per-(doc, term) frequencies for the query terms only — an ACTUAL
    * inverted-index probe (r10; previously an in-plan corpus tokenize with
    * the term filter fused into the explode): each query term's hits are a
    * PUSHED `In(term, …)` read of the persisted positional postings store
    * ([[ensurePostingsStore]] — term-sorted, so row-group min/max stats
    * skip everything else), exactly how ES serves the scoring families
    * built on this (q61/q62/q146/q152/q154/q165/q167/q168/q88). Document
    * text is never read. Rows are identical to the corpus-explode
    * formulation by construction — the store is built from the same
    * tokenizer over the same corpus — and every consumer's DuckDB oracle
    * still runs the explode formulation. The switch also fixes a measured
    * double-tokenize: tf feeds two plan branches (scoring and df), Catalyst
    * prunes them differently, and the un-reusable duplicated subtree cost
    * two full corpus passes per query; duplicated pushed store probes cost
    * two bounded point reads instead.
    */
  private def termFreqs(spark: SparkSession, sfDir: String, terms: Seq[String]): DataFrame =
    graft.Readers.parquet(spark, ensurePostingsStore(spark, sfDir))
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("term").as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))

  /** Per-term document frequencies (t, df) for the query terms, served from
    * the persisted [[vocab]] dictionary — ES reads df from the index's
    * segment statistics, it never recounts postings per query. r14: every
    * lexical scorer previously derived df by RE-AGGREGATING [[termFreqs]]
    * (`tf.groupBy(t).count`), and because Catalyst prunes that branch's
    * columns differently from the scoring branch, ReuseExchange never fired
    * — the executed plans carried TWO term-restricted postings probes and
    * two (doc_id, t) exchanges per query. A pushed `In(term, …)` probe of
    * the Zipf-bounded dictionary replaces that whole leg with a |terms|-row
    * read. Values are identical by construction: both stores are built from
    * the same tokenizer over the same corpus (vocab `n_docs` =
    * countDistinct(doc_id) ≡ the count of tf's (doc_id, t)-distinct rows),
    * which is the same exactness contract q143/q144/q154 already rest on.
    */
  private def docFreqs(spark: SparkSession, sfDir: String, terms: Seq[String]): DataFrame =
    vocab(spark, sfDir)
      .filter(col("term").isin(terms: _*))
      .select(col("term").as("t"), col("n_docs").as("df"))

  /** q61 — TF-IDF top-k retrieval: score(d) = Σ_t tf(t,d) · idf4(t) with
    * idf4(t) = ⌊ln(N/df(t)) · 10⁴ + ½⌋ as BIGINT. Integer scores ⇒ the
    * DESC-score ranking is total and engine-independent (ties break on
    * doc_id ASC).
    */
  /** The UNRANKED per-doc TF-IDF scores (doc_id, score) — the shared core
    * of q61/q152/q165: consumers add their own cut (global top-k, factor
    * join, per-source window) so no global sort is planned that a
    * downstream window would re-do.
    */
  private def tfidfScores(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String]): DataFrame = {
    val doc = Tables.documents(spark, sfDir)
    val tf = termFreqs(spark, sfDir, terms)
    // Corpus size as a 1-row broadcast relation (a scalar subquery shape —
    // no driver-side count, the whole thing stays one plan).
    val n = doc.agg(count(lit(1)).as("n"))
    // df(t) from the persisted term dictionary (one pushed probe for the
    // entire lexical family q61/q62/q88/q146/q152/q163/q164/q165/q167/q168)
    // — see [[docFreqs]].
    val dfreq = docFreqs(spark, sfDir, terms)
    val idf = dfreq.crossJoin(broadcast(n))
      .select(col("t"), Det.quant(log(col("n") / col("df")) * 10000, 0).as("idf4"))
    tf.join(broadcast(idf), "t")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("idf4")).as("score"))
  }

  def tfidfTopDocs(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String] = DefaultTerms,
      k: Int = 20): DataFrame =
    tfidfScores(spark, sfDir, terms)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("score"))

  def tfidfOracle(terms: Seq[String] = DefaultTerms, k: Int = 20): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM tok
       |  WHERE t IN ($termList) GROUP BY doc_id, t),
       |idf AS (
       |  SELECT t, CAST(floor(ln((SELECT count(*) FROM documents) / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS idf4
       |  FROM tf GROUP BY t)
       |SELECT doc_id, CAST(sum(tf.tf * idf.idf4) AS BIGINT) AS score
       |FROM tf JOIN idf USING (t)
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC
       |LIMIT $k""".stripMargin
  }

  /** q62 — BM25 (k1=1.2, b=0.75) scores for every doc matching the query.
    * Output is doc_id-ordered (score is a payload column, not the sort key),
    * so double rounding differences cannot reorder the gate's rows; at the
    * API level a caller ranks by (bm25 DESC, doc_id) exactly like
    * [[tfidfTopDocs]].
    *
    * dl = whitespace token count; avgdl enters as a second broadcast scalar.
    * idf uses the standard BM25+ form ln(1 + (N-df+0.5)/(df+0.5)), always
    * positive.
    */
  def bm25Scores(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String] = DefaultTerms,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val tf = termFreqs(spark, sfDir, terms)
    // dl and avgdl from the persisted norms store (ES's norms): BM25's
    // length legs read (doc_id, dl) pairs, never document text. Values are
    // identical to the in-plan tokenize by construction (the store is the
    // same size(tokens(text)) expression, persisted at ingest).
    val norms = graft.Readers.parquet(spark, ensureNormsStore(spark, sfDir))
    val dl = norms.select(col("doc_id"), col("dl").cast("double").as("dl"))
    val stats = norms.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    // df(t) from the persisted term dictionary — see [[docFreqs]].
    val dfreq = docFreqs(spark, sfDir, terms).select(col("t"), col("df").cast("double").as("df"))
    val idf = dfreq.crossJoin(broadcast(stats))
      .select(
        col("t"),
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)).as("idf"),
        col("avgdl"))
    tf.join(broadcast(idf), "t")
      .join(dl, "doc_id")
      .withColumn("part",
        col("idf") * (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      // Each per-term contribution is rounded to 1e-6 and summed as BIGINT:
      // raw-double partial sums are accumulation-order-dependent (Spark's
      // order follows partitioning; DuckDB's differs), and a .00005-boundary
      // flip at 4 decimals is a hash-gate break. Integer sums are
      // associative, so the rounded score is partitioning-independent.
      //
      // The 4-dp display value is then derived from the integer micro-sum by
      // EXPLICIT half-up integer arithmetic — floor(micro/100 + 1/2) — not by
      // round(micro/1e6, 4): a micro-sum ending in 50 puts the quotient
      // exactly on the .00005 boundary, where Spark's Round (decimal-string
      // HALF_UP) and DuckDB's round (binary-double) can disagree by one ulp's
      // worth of display. micro/100.0 is exact when micro%100==50 (X.5 is
      // representable) and >1e-2 away from a boundary otherwise, so the
      // floor(+0.5) form is bit-deterministic across engines. First observed
      // as a real 1-row hash mismatch at sf1 (SCALING.md, round 11).
      .groupBy(col("doc_id"))
      .agg(
        (floor(sum(Det.quant(col("part") * 1e6, 0)) / lit(100.0) + lit(0.5)) /
          lit(1e4)).as("bm25_4"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("doc_id"))
  }

  def bm25Oracle(terms: Seq[String] = DefaultTerms, k1: Double = 1.2, b: Double = 0.75): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM tok
       |  WHERE t IN ($termList) GROUP BY doc_id, t),
       |dl AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |         sum(len(string_split(text, ' '))) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM documents),
       |idf AS (
       |  SELECT t, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
       |  FROM (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t), stats)
       |SELECT tf.doc_id,
       |       floor(CAST(sum(CAST(floor(idf.idf * (tf.tf * ($k1 + 1.0))
       |                 / (tf.tf + $k1 * (1.0 - $b + $b * dl.dl / idf.avgdl))
       |                 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 + 0.5) / 10000.0 AS bm25_4,
       |       count(*) AS n_terms
       |FROM tf
       |JOIN idf USING (t)
       |JOIN dl ON tf.doc_id = dl.doc_id
       |GROUP BY tf.doc_id
       |ORDER BY tf.doc_id""".stripMargin
  }

  /** q88 — hybrid retrieval via reciprocal-rank fusion: the lexical TF-IDF
    * ranking (integer scores, [[tfidfTopDocs]]'s discipline) fused with an
    * embedding-cosine ranking against a query vector — the lexical+vector
    * hybrid every Elasticsearch-with-kNN deployment (the reference's world)
    * serves. RRF(d) = Σ_legs ⌊10⁹/(60+rank_leg(d))+½⌋, summed as exact
    * BIGINTs over the union of both top-`kRank` lists; docs absent from a
    * leg contribute 0. Constant 60 per the published RRF formulation.
    *
    * Scale shape: each leg ends in a global top-`kRank` — planned as
    * TakeOrderedAndProject (per-partition partial top-k, single bounded
    * merge; never a full sort). Ranking then runs over ≤kRank rows, and the
    * fusion join is bounded-×-bounded. The lexical leg touches only query-
    * term postings; the vector leg is one narrow cosine map over the
    * embedding scan (at index scale, swap in the IVF/PQ candidates — same
    * fusion).
    *
    * A `queryVecId` with no embedding row makes the vector leg EMPTY and the
    * fusion degrade to lexical-only (the 1-row broadcast query side is
    * empty); the oracle's CROSS JOIN form reproduces exactly that, and its
    * cosine leg casts to DOUBLE[] so both engines rank in double precision
    * (a float-ulp rank swap would flip the integer RRF scores).
    */
  def rrfFusion(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String] = DefaultTerms,
      queryVecId: Long = 0,
      kRank: Int = 50,
      k: Int = 10,
      rrfC: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val doc = Tables.documents(spark, sfDir)
    val tf = termFreqs(spark, sfDir, terms)
    val n = doc.agg(count(lit(1)).as("n"))
    // df(t) from the persisted term dictionary — see [[docFreqs]].
    val dfreq = docFreqs(spark, sfDir, terms)
    val idf = dfreq.crossJoin(broadcast(n))
      .select(col("t"), Det.quant(log(col("n") / col("df")) * 10000, 0).as("idf4"))
    val lexTop = tf.join(broadcast(idf), "t")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("idf4")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(kRank)
    val lex = lexTop
      .withColumn("r_lex", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("r_lex"))
    val emb = Tables.embeddings(spark, sfDir)
    val qv = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"))
    val vecTop = emb.crossJoin(broadcast(qv))
      .select(
        col("vec_id").as("doc_id"),
        org.apache.spark.sql.graft.VectorExpressions.cosine(col("embedding"), col("qv")).as("sim"))
      .orderBy(col("sim").desc, col("doc_id").asc)
      .limit(kRank)
    val vec = vecTop
      .withColumn("r_vec", row_number()
        .over(Window.orderBy(col("sim").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("r_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        (coalesce(Det.quant(lit(1e9) / (lit(rrfC) + col("r_lex")), 0), lit(0L)) +
          coalesce(Det.quant(lit(1e9) / (lit(rrfC) + col("r_vec")), 0), lit(0L)))
          .as("rrf9"))
      .orderBy(col("rrf9").desc, col("doc_id").asc)
      .limit(k)
  }

  def rrfOracle(
      terms: Seq[String] = DefaultTerms,
      queryVecId: Long = 0,
      kRank: Int = 50,
      k: Int = 10,
      rrfC: Int = 60): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM tok
       |  WHERE t IN ($termList) GROUP BY doc_id, t),
       |idf AS (
       |  SELECT t, CAST(floor(ln((SELECT count(*) FROM documents) / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS idf4
       |  FROM tf GROUP BY t),
       |lex AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY CAST(sum(tf.tf * idf.idf4) AS BIGINT) DESC, doc_id ASC) AS r
       |  FROM tf JOIN idf USING (t) GROUP BY doc_id
       |  ORDER BY r LIMIT $kRank),
       |vec AS (
       |  SELECT vec_id AS doc_id,
       |         row_number() OVER (ORDER BY
       |           list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv)
       |           DESC, vec_id ASC) AS r
       |  FROM embeddings CROSS JOIN (
       |    SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
       |    WHERE vec_id = $queryVecId) q
       |  ORDER BY r LIMIT $kRank),
       |fused AS (
       |  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
       |         CAST(coalesce(CAST(floor(1000000000.0 / ($rrfC + lex.r) + 0.5) AS BIGINT), 0)
       |            + coalesce(CAST(floor(1000000000.0 / ($rrfC + vec.r) + 0.5) AS BIGINT), 0) AS BIGINT) AS rrf9
       |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
       |SELECT doc_id, rrf9 FROM fused ORDER BY rrf9 DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  // ------------------------------------------------- q142/q143/q144
  // The remaining Elasticsearch QUERY-DSL surface a user of the reference
  // (an ES plugin) writes daily, beyond bool/term-set (✪ row) and the
  // TF-IDF/BM25 rankers: match_phrase, fuzzy, and wildcard/regexp.

  /** q142 — PHRASE SEARCH (ES `match_phrase`): documents containing the
    * query terms CONSECUTIVELY in order. On the whitespace-token corpus,
    * phrase containment is exact substring containment of the
    * space-padded phrase in the space-padded text — one narrow predicate,
    * no tokenize/explode, pushable toward the scan. At index scale ES
    * serves this from positional postings; the scan-shaped equivalent
    * here composes with any of the corpus filters (and a positional
    * posting table is one explode+groupBy away if phrase volume ever
    * warrants it).
    */
  def phraseSearch(
      spark: SparkSession,
      sfDir: String,
      phrase: String = "join order"): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(concat(lit(" "), col("text"), lit(" "))
        .contains(s" $phrase "))
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))

  def phraseSearchOracle(phrase: String = "join order"): String =
    s"""SELECT doc_id, source, lang FROM documents
       |WHERE contains(' ' || text || ' ', ' $phrase ')
       |ORDER BY doc_id""".stripMargin

  /** The persisted corpus VOCABULARY table — ES's term dictionary as an
    * artifact: (term, n_hits, n_docs), built in ONE corpus explode +
    * Zipf-bounded aggregate and reused by every term-level query (fuzzy,
    * regexp, suggest, significant-terms background). This is the "run
    * against the vocabulary table instead of re-exploding the corpus"
    * remedy the q143/q144 scaladocs promise, made real: at 100 TB the
    * dictionary is gigabytes where the corpus is terabytes, and term
    * queries become dictionary scans. Built once per corpus version
    * (keyed by path + mtime, the [[graft.operators.Text
    * .ensureShinglePairs]] discipline); exact counts ⇒ the probe queries'
    * results are IDENTICAL to the corpus-explode formulation, which is why
    * the oracle SQL (which does re-explode) still hash-matches.
    */
  def buildVocabStore(spark: SparkSession, docs: DataFrame, outDir: String): Unit =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_hits"), countDistinct(col("doc_id")).as("n_docs"))
      // Term-sorted, range-partitioned layout (r14): the store previously
      // landed as the aggregation's 8 unsorted post-shuffle files, so every
      // pushed In(term)/prefix probe opened ALL of them and row-group
      // min/max stats on `term` could skip nothing — measured as a
      // per-query file-open tax on the whole df/fuzzy/suggest probe family
      // on the slow-open sandbox fs. Range+sort is the postings store's own
      // discipline: AQE sizes the file count to the dictionary (ONE file at
      // gate scale), term stats become selective, and a probe reads the one
      // row-group run its terms live in.
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(outDir)

  /** Build the DOC-NORMS store: (doc_id, dl) with dl = whitespace token
    * count — ES's "norms" (the per-field length the BM25 length
    * normalization needs), persisted at ingest exactly like ES does so
    * scoring never re-tokenizes a document to learn its length. Sorted by
    * doc_id via an un-numbered range shuffle (AQE sizes the file count to
    * the data; min/max stats serve pushed doc probes).
    */
  def buildNormsStore(spark: SparkSession, docs: DataFrame, outDir: String): Unit =
    docs.select(col("doc_id"), size(tokens(col("text"))).as("dl"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(outDir)

  def ensureNormsStore(spark: SparkSession, sfDir: String): String =
    graft.Stores.ensure(spark, "norms", s"$sfDir/documents.parquet", "") { dir =>
      buildNormsStore(spark, Tables.documents(spark, sfDir), dir)
    }

  // "sorted" = the r14 term-sorted layout (same marker discipline as the
  // postings store key) — a layout change must never serve a stale
  // pre-sort directory under the old key.
  def ensureVocabStore(spark: SparkSession, sfDir: String): String =
    graft.Stores.ensure(spark, "vocab", s"$sfDir/documents.parquet", "sorted") { dir =>
      buildVocabStore(spark, Tables.documents(spark, sfDir), dir)
    }

  /** The vocabulary as a DataFrame (term, n_hits, n_docs). */
  def vocab(spark: SparkSession, sfDir: String): DataFrame =
    graft.Readers.parquet(spark, ensureVocabStore(spark, sfDir))

  /** q143 — FUZZY TERM SEARCH (ES `fuzzy`, fuzziness=1): corpus terms
    * within Levenshtein distance 1 of the query term, with hit and
    * document counts — typo-tolerant lookup. Both engines implement the
    * identical unit-cost edit distance, so the predicate is engine-exact.
    * Served from the persisted [[vocab]] store: the edit-distance filter
    * runs over the Zipf-bounded term dictionary — the corpus is never
    * re-exploded per query (counts are exact in the store, so the result
    * is bitwise the corpus-explode formulation the oracle runs).
    */
  def fuzzySearch(
      spark: SparkSession,
      sfDir: String,
      term: String = "star",
      maxDist: Int = 2): DataFrame =
    vocab(spark, sfDir)
      .filter(levenshtein(col("term"), lit(term)) <= maxDist)
      .select(col("term"), col("n_hits"), col("n_docs"))
      .orderBy(col("term"))

  def fuzzySearchOracle(term: String = "star", maxDist: Int = 2): String =
    s"""WITH x AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents)
       |SELECT t AS term, count(*) AS n_hits,
       |       count(DISTINCT doc_id) AS n_docs
       |FROM x WHERE levenshtein(t, '$term') <= $maxDist
       |GROUP BY t ORDER BY term""".stripMargin

  /** q169 — PREFIX SEARCH at the DOCUMENT level (ES `prefix` query): every
    * doc containing at least one term with the given prefix, with its hit
    * and distinct-term counts. q143/q144 answer the TERM-level half from
    * the dictionary; this is the retrieval half, served from the persisted
    * positional postings store — `startsWith` compiles to a pushed
    * `StringStartsWith` parquet filter, so on the term-clustered store
    * layout the scan reads only the prefix's row groups, never text
    * (PlanSpec-locked). At 100 TB that is ES's own shape: a dictionary
    * range walk + posting-list reads.
    */
  def prefixSearch(
      spark: SparkSession,
      sfDir: String,
      prefix: String = "sl"): DataFrame =
    graft.Readers.parquet(spark, ensurePostingsStore(spark, sfDir))
      .filter(col("term").startsWith(prefix))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), countDistinct(col("term")).as("n_terms"))
      .orderBy(col("doc_id"))

  // starts_with, not LIKE: the engine side is a literal startsWith, and a
  // prefix containing LIKE metacharacters (_ %) would silently widen a
  // LIKE-based oracle. Single quotes are doubled for SQL.
  def prefixSearchOracle(prefix: String = "sl"): String = {
    val p = prefix.replace("'", "''")
    s"""WITH x AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents)
       |SELECT doc_id, count(*) AS n_hits, count(DISTINCT t) AS n_terms
       |FROM x WHERE starts_with(t, '$p')
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** ES wildcard pattern (`*` = any run, `?` = exactly one char, `\x` =
    * literal x — Lucene's escape, so `\*` searches a literal asterisk) →
    * SQL LIKE, with literal LIKE metacharacters backslash-escaped — a
    * pattern containing `%`/`_` must match those characters, not widen
    * (the q169 starts_with note, one level up), and a trailing lone
    * backslash is a literal backslash. Both engines implement identical
    * LIKE semantics under an explicit `ESCAPE '\'`.
    */
  private[graft] def wildcardToLike(pattern: String): String = {
    def likeLiteral(c: Char): String = c match {
      case '%' => "\\%"
      case '_' => "\\_"
      case '\\' => "\\\\"
      case other => other.toString
    }
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '\\' if i + 1 < pattern.length =>
          i += 1
          sb ++= likeLiteral(pattern.charAt(i))
        case '*' => sb += '%'
        case '?' => sb += '_'
        case c => sb ++= likeLiteral(c)
      }
      i += 1
    }
    sb.toString
  }

  /** q176 — WILDCARD SEARCH at the document level (ES `wildcard` query):
    * every doc containing at least one term matching the pattern, with hit
    * and distinct-term counts. Completes the term-expansion query family
    * (q143 fuzzy / q144 regex / q169 prefix / q170 synonym): ES rewrites a
    * wildcard into matching dictionary terms then reads their postings; here
    * the LIKE predicate runs over the persisted postings store's
    * Zipf-bounded term column — an infix pattern can't prune row groups the
    * way q169's `StringStartsWith` does (ES pays the same full dictionary
    * walk for a leading `*`), but the scan is dictionary-shaped, reads no
    * text, and the corpus is never re-exploded.
    */
  def wildcardSearch(
      spark: SparkSession,
      sfDir: String,
      pattern: String = "s?a*"): DataFrame =
    graft.Readers.parquet(spark, ensurePostingsStore(spark, sfDir))
      .filter(col("term").like(wildcardToLike(pattern)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), countDistinct(col("term")).as("n_terms"))
      .orderBy(col("doc_id"))

  def wildcardSearchOracle(pattern: String = "s?a*"): String = {
    val p = wildcardToLike(pattern).replace("'", "''")
    s"""WITH x AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents)
       |SELECT doc_id, count(*) AS n_hits, count(DISTINCT t) AS n_terms
       |FROM x WHERE t LIKE '$p' ESCAPE '\\'
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q181 — COMPOSITE AGGREGATION with `after`-key pagination (ES
    * `composite` agg): the scalable way ES pages through a multi-bucket
    * aggregation — buckets in (source, lang) key order, resuming strictly
    * AFTER a cursor key, one page per call. The after-key predicate
    * references only GROUP columns, so Catalyst pushes it below the
    * aggregate (bucket pruning before any row aggregates — at 100 TB with
    * source-partitioned layout that is partition pruning, ES's own
    * shard-level skip); the page cut is a TakeOrderedAndProject over
    * bucket-cardinality rows, never a global sort of the corpus.
    */
  def compositeAgg(
      spark: SparkSession,
      sfDir: String,
      afterSource: String = "src2",
      afterLang: String = "en",
      size: Int = 10): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .filter(col("source") > afterSource ||
        (col("source") === afterSource && col("lang") > afterLang))
      .orderBy(col("source"), col("lang"))
      .limit(size)

  def compositeAggOracle(
      afterSource: String = "src2",
      afterLang: String = "en",
      size: Int = 10): String = {
    // single quotes doubled for SQL — cursor values are data, and real
    // source names can carry quotes (the q169 oracle-widening note)
    val s0 = afterSource.replace("'", "''")
    val l0 = afterLang.replace("'", "''")
    s"""SELECT source, lang, count(*) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM documents
       |GROUP BY source, lang
       |HAVING source > '$s0'
       |    OR (source = '$s0' AND lang > '$l0')
       |ORDER BY source, lang
       |LIMIT $size""".stripMargin
  }

  /** q182 — SPAN FIRST (ES `span_first` query): documents where a term
    * occurs within the first `boundary` token positions — the "title-ish /
    * lead-paragraph match" positional query. Served from the positional
    * postings store with BOTH predicates pushed into the parquet scan
    * (`EqualTo(term)` row-group-skips on the term-clustered layout;
    * `LessThan(pos)` prunes inside surviving groups) — no text read, no
    * corpus re-explode; the aggregate runs on the term's
    * position-truncated posting list only.
    */
  def spanFirst(
      spark: SparkSession,
      sfDir: String,
      term: String = "join",
      boundary: Int = 8): DataFrame =
    graft.Readers.parquet(spark, ensurePostingsStore(spark, sfDir))
      .filter(col("term") === term && col("pos") < boundary)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))

  /** Oracle over the list prefix: occurrences of the term in the first
    * `boundary` tokens (DuckDB slices are 1-based inclusive — `ts[1:k]` IS
    * the 0-based `pos < k` window).
    */
  def spanFirstOracle(term: String = "join", boundary: Int = 8): String = {
    val t0 = term.replace("'", "''")
    s"""WITH x AS (
       |  SELECT doc_id,
       |         len(list_filter(string_split(text, ' ')[1:$boundary],
       |                         t -> t = '$t0')) AS n
       |  FROM documents)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_hits
       |FROM x WHERE n > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** q187 — MATCH PHRASE PREFIX (ES `match_phrase_prefix`): documents where
    * the anchor term is immediately followed by a term with the given
    * prefix — the "search-as-you-type" query (the phrase is complete except
    * its trailing, still-being-typed word). Both legs are pushed probes of
    * the positional postings store (`EqualTo(term)` for the anchor,
    * `StringStartsWith` for the completion — the q169 row-group-skip
    * shapes); the adjacency is a position join BETWEEN TWO POSTING LISTS,
    * never the corpus — ES's own next-position seek expressed relationally.
    * Output per doc: adjacent-pair hits and distinct completions.
    */
  def matchPhrasePrefix(
      spark: SparkSession,
      sfDir: String,
      term: String = "join",
      prefix: String = "or"): DataFrame = {
    val postings = graft.Readers.parquet(spark, ensurePostingsStore(spark, sfDir))
    val anchors = postings.filter(col("term") === term)
      .select(col("doc_id"), col("pos"))
    val completions = postings.filter(col("term").startsWith(prefix))
      .select(
        col("doc_id").as("c_doc_id"), col("pos").as("c_pos"),
        col("term").as("completion"))
    anchors
      .join(completions,
        col("doc_id") === col("c_doc_id") && col("c_pos") === col("pos") + 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_hits"),
        countDistinct(col("completion")).as("n_completions"))
      .orderBy(col("doc_id"))
  }

  def matchPhrasePrefixOracle(
      term: String = "join", prefix: String = "or"): String = {
    val t0 = term.replace("'", "''")
    val p0 = prefix.replace("'", "''")
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         [ts[i + 1] FOR i IN generate_series(1, len(ts) - 1)
       |          IF ts[i] = '$t0' AND starts_with(ts[i + 1], '$p0')]
       |           AS comps
       |  FROM tok)
       |SELECT doc_id, CAST(len(comps) AS BIGINT) AS n_hits,
       |       CAST(len(list_distinct(comps)) AS BIGINT) AS n_completions
       |FROM h WHERE len(comps) > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** The default synonym registry for q170 — an ES synonym-filter analysis
    * chain as data: (concept, variant) rows, broadcast into the match.
    */
  val DefaultSynonyms: Seq[(String, String)] = Seq(
    ("ordering", "sort"), ("ordering", "order"),
    ("speed", "fast"), ("speed", "slow"),
    ("grouping", "group"), ("grouping", "agg"))

  /** q170 — SYNONYM-EXPANDED SEARCH (ES `synonym` token filter): terms are
    * normalized to concepts through a broadcast synonym table and matches
    * aggregate at the CONCEPT level — (concept, n_docs, n_hits). This is
    * the analysis-chain expansion ES does at query time, expressed as a
    * tiny-dimension broadcast join against the postings store: the corpus
    * side never reshuffles, the synonym table rides the broadcast, and the
    * aggregate is concept-cardinality. Variants sharing a doc count it
    * once (countDistinct doc).
    */
  def synonymSearch(
      spark: SparkSession,
      sfDir: String,
      synonyms: Seq[(String, String)] = DefaultSynonyms): DataFrame = {
    import spark.implicits._
    val syn = synonyms.toDF("concept", "term")
    graft.Readers.parquet(spark, ensurePostingsStore(spark, sfDir))
      .join(broadcast(syn), "term")
      .groupBy(col("concept"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_hits"))
      .orderBy(col("concept"))
  }

  def synonymSearchOracle(
      synonyms: Seq[(String, String)] = DefaultSynonyms): String = {
    def q(s: String) = s.replace("'", "''")
    val rows = synonyms
      .map { case (c, t) => s"('${q(c)}', '${q(t)}')" }.mkString(", ")
    s"""WITH syn(concept, term) AS (VALUES $rows),
       |x AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents)
       |SELECT concept, count(DISTINCT doc_id) AS n_docs, count(*) AS n_hits
       |FROM x JOIN syn ON x.t = syn.term
       |GROUP BY concept ORDER BY concept""".stripMargin
  }

  /** q171 — TERM VECTORS (ES `_termvectors` API): one document's term
    * statistics — tf in the doc, df and total corpus frequency from the
    * dictionary. Fully index-served: the tf side is a PUSHED doc_id probe
    * of the postings store (the same point-read ES does against the stored
    * term vector), the df/ttf side is a dictionary join — document text is
    * never read.
    */
  def termVectors(
      spark: SparkSession,
      sfDir: String,
      docId: Long = 7): DataFrame = {
    val tf = graft.Readers.parquet(spark, ensurePostingsStore(spark, sfDir))
      .filter(col("doc_id") === docId)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"))
    tf.join(vocab(spark, sfDir), "term")
      .select(col("term"), col("tf"), col("n_docs").as("df"),
        col("n_hits").as("ttf"))
      .orderBy(col("term"))
  }

  def termVectorsOracle(docId: Long = 7): String =
    s"""WITH x AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |tf AS (
       |  SELECT t AS term, count(*) AS tf FROM x
       |  WHERE doc_id = $docId GROUP BY t),
       |dict AS (
       |  SELECT t AS term, count(DISTINCT doc_id) AS df, count(*) AS ttf
       |  FROM x GROUP BY t)
       |SELECT tf.term, tf.tf, dict.df, dict.ttf
       |FROM tf JOIN dict ON tf.term = dict.term
       |ORDER BY tf.term""".stripMargin

  /** q144 — REGEXP/WILDCARD TERM SEARCH (ES `regexp` / `wildcard`):
    * corpus terms matching an anchored regular expression, with counts.
    * The pattern is kept inside the POSIX-ERE intersection both engines
    * (Java regex / RE2) interpret identically — anchors, `.`, `*`,
    * character classes; engine-divergent syntax (lookaround,
    * backreferences) is out of contract, as documented for ES's own RE
    * dialect. Served from the persisted [[vocab]] store like q143.
    */
  def regexSearch(
      spark: SparkSession,
      sfDir: String,
      pattern: String = "^s.*a.*$"): DataFrame =
    vocab(spark, sfDir)
      .filter(col("term").rlike(pattern))
      .select(col("term"), col("n_hits"), col("n_docs"))
      .orderBy(col("term"))

  def regexSearchOracle(pattern: String = "^s.*a.*$"): String =
    s"""WITH x AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents)
       |SELECT t AS term, count(*) AS n_hits,
       |       count(DISTINCT doc_id) AS n_docs
       |FROM x WHERE regexp_matches(t, '$pattern')
       |GROUP BY t ORDER BY term""".stripMargin

  /** q145 — SEARCH HIGHLIGHTING (ES `highlight`): for each phrase-matching
    * document, the match position and a fixed-width snippet around the
    * first occurrence — what a search UI renders. Every string op
    * (pad/instr/substr, all 1-based) evaluates the IDENTICAL expression on
    * both engines, so the snippet is byte-exact; the position guard
    * (`greatest(pos-15, 1)`) keeps the window in range near the text
    * start. Narrow scan-side projection; same pushable containment
    * predicate as q142.
    */
  def highlightSearch(
      spark: SparkSession,
      sfDir: String,
      phrase: String = "join order",
      context: Int = 15): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val needle = s" $phrase "
    val width = needle.length + 2 * context
    Tables.documents(spark, sfDir)
      .withColumn("pos", instr(padded, needle))
      .filter(col("pos") > 0)
      .select(col("doc_id"), col("pos"),
        // substr(padded, max(pos-context,1), width) — the same 1-based
        // formula the oracle evaluates
        expr(s"substring(concat(' ', text, ' '), " +
          s"greatest(pos - $context, 1), $width)").as("snippet"))
      .orderBy(col("doc_id"))
  }

  def highlightSearchOracle(
      phrase: String = "join order", context: Int = 15): String = {
    val needle = s" $phrase "
    val width = needle.length + 2 * context
    s"""SELECT doc_id, pos,
       |       substr(' ' || text || ' ', greatest(pos - $context, 1), $width)
       |         AS snippet
       |FROM (
       |  SELECT doc_id, text,
       |         CAST(strpos(' ' || text || ' ', ' $phrase ') AS INTEGER) AS pos
       |  FROM documents)
       |WHERE pos > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** q146 — KEYSET PAGINATION (ES `search_after`): page 2 of the TF-IDF
    * ranking, fetched NOT by offset but by the strict-after predicate on
    * the (score desc, doc_id asc) total order — the only pagination that
    * stays correct and cheap when the corpus changes between pages and
    * when page N's offset would otherwise re-rank everything before it.
    * The cursor (page 1's last row) is computed in-plan as a 1-row
    * broadcast subquery, not collected; the after-predicate
    * `score < s0 OR (score = s0 AND doc_id > d0)` is exact because scores
    * are BIGINT (the q61 discipline — float scores would make the
    * boundary engine-dependent).
    *
    * Cursor shape: page 1's LAST row is the sort-maximum of the
    * top-`pageSize` list, so it comes from a distributed
    * TakeOrderedAndProject (per-partition top-k, merged) + a REVERSED
    * 1-row TakeOrderedAndProject over those `pageSize` rows — NOT a
    * `row_number() === pageSize` filter, whose unpartitioned window would
    * serialize the entire ranked match set through one task
    * (WindowGroupLimit cannot guard an equality-rank filter), and NOT a
    * `min(struct(score, −doc_id))` aggregate, whose struct-typed buffer
    * demotes the 1-row reduction to SortAggregate (the r12 ArgMinLong
    * defect class — harmless at pageSize rows but caught by the
    * PlanLintSpec aggregate sweep, and the sort-limit form is simpler
    * anyway: the last row of (score desc, doc_id asc) IS the first row of
    * (score asc, doc_id desc)).
    */
  def searchAfter(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String] = DefaultTerms,
      pageSize: Int = 10): DataFrame = {
    val ranked = tfidfTopDocs(spark, sfDir, terms, k = Int.MaxValue)
    val cursor = ranked
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(pageSize)
      .orderBy(col("score").asc, col("doc_id").desc)
      .limit(1)
      .select(col("score").as("s0"), col("doc_id").as("d0"))
    ranked.crossJoin(broadcast(cursor))
      .filter(col("score") < col("s0") ||
        (col("score") === col("s0") && col("doc_id") > col("d0")))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(pageSize)
      .select(col("doc_id"), col("score"))
  }

  def searchAfterOracle(
      terms: Seq[String] = DefaultTerms, pageSize: Int = 10): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM tok
       |  WHERE t IN ($termList) GROUP BY doc_id, t),
       |idf AS (
       |  SELECT t, CAST(floor(ln((SELECT count(*) FROM documents)
       |           / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS idf4
       |  FROM tf GROUP BY t),
       |ranked AS (
       |  SELECT doc_id, CAST(sum(tf.tf * idf.idf4) AS BIGINT) AS score
       |  FROM tf JOIN idf USING (t) GROUP BY doc_id),
       |cursor AS (
       |  SELECT score AS s0, doc_id AS d0 FROM ranked
       |  ORDER BY score DESC, doc_id ASC LIMIT 1 OFFSET ${pageSize - 1})
       |SELECT doc_id, score FROM ranked, cursor
       |WHERE score < s0 OR (score = s0 AND doc_id > d0)
       |ORDER BY score DESC, doc_id ASC LIMIT $pageSize""".stripMargin
  }

  /** q147 — FACETED SEARCH (ES `aggs` beside `query`): one pass computes
    * the per-source and per-language facet counts of the documents
    * matching a term query — GROUPING SETS over the filtered scan, the
    * exact relational shape ES aggregations compile to. A NULL facet
    * column marks the other dimension's rows (standard grouping-sets
    * output; NULLS FIRST ordering pinned on both engines).
    */
  def facetedSearch(
      spark: SparkSession,
      sfDir: String,
      term: String = "vector"): DataFrame = {
    Tables.documents(spark, sfDir)
      .filter(array_contains(tokens(col("text")), term))
      .createOrReplaceTempView("facet_docs")
    spark.sql(
      """SELECT source, lang, count(*) AS n_docs
        |FROM facet_docs
        |GROUP BY GROUPING SETS ((source), (lang))
        |ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin)
  }

  def facetedSearchOracle(term: String = "vector"): String =
    s"""SELECT source, lang, count(*) AS n_docs
       |FROM documents
       |WHERE list_contains(string_split(text, ' '), '$term')
       |GROUP BY GROUPING SETS ((source), (lang))
       |ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin

  // ------------------------------------------------- q151/q152/q153/q154
  // The query-BY-EXAMPLE / scoring-modifier / reverse-search / completion
  // corners of the ES DSL — the last daily-driver query classes a reference
  // user writes that the engine did not yet serve.

  /** q151 — MORE LIKE THIS (ES `more_like_this`): retrieve documents
    * similar to an EXAMPLE document. ES's published algorithm: pick the
    * example's `max_query_terms` most interesting terms (tf·idf within the
    * example), then run them as a disjunctive TF-IDF query. Both stages
    * here are the q61 integer discipline — idf scaled to 1e4 once, scores
    * exact BIGINT sums, ties on term/doc_id ASC — so the selection AND the
    * ranking are engine-exact.
    *
    * Scale shape (100 TB): ENTIRELY index-served — document text is never
    * read (PlanSpec-locked). The example's term profile is a pushed
    * doc_id probe of the positional postings store (ES's own term-vectors
    * read); corpus postings restrict to those terms by a BROADCAST join
    * before any aggregate, so only the example's terms' hit rows reach
    * the two digest-sized exchanges. The term-selection window orders a
    * table bounded by the example document's own vocabulary
    * (driver-bounded by doc length, the same budget class as the BPE
    * argmax).
    */
  def moreLikeThis(
      spark: SparkSession,
      sfDir: String,
      exampleId: Long = 7,
      maxTerms: Int = 12,
      k: Int = 20): DataFrame = {
    val store = graft.Readers.parquet(spark, ensurePostingsStore(spark, sfDir))
      .select(col("doc_id"), col("term").as("t"))
    // NOT pinned: exTf/tf each feed two consumers, but every re-execution is
    // a pushed/pruned postings-store probe — and keeping them as scans is
    // what lets PlanSpec assert the index-served property (a checkpoint
    // would hide the PushedFilters doc_id probe behind an ExistingRDD).
    val exTf = store.filter(col("doc_id") === exampleId)
      .groupBy(col("t")).agg(count(lit(1)).as("tf_ex"))
    val tf = store
      .join(broadcast(exTf.select(col("t"))), "t")
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val n = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n"))
    // df(t) from the persisted term dictionary (r14 — [[docFreqs]] rationale;
    // previously a re-aggregation of tf, a SECOND full term-restricted
    // postings probe per query). The example's terms are dynamic, so the
    // dictionary is restricted by a broadcast semi-join on the example's
    // term profile instead of a literal pushed In — a dictionary-bounded
    // scan, still never the postings.
    val dfreq = vocab(spark, sfDir)
      .select(col("term").as("t"), col("n_docs").as("df"))
      .join(broadcast(exTf.select(col("t"))), "t")
    val idf = dfreq.crossJoin(broadcast(n))
      .select(col("t"), Det.quant(log(col("n") / col("df")) * 10000, 0).as("idf4"))
    // ES max_query_terms: the example's most interesting terms. The window
    // is unpartitioned but runs over ≤ |example vocabulary| rows.
    val wSel = Window.orderBy((col("tf_ex") * col("idf4")).desc, col("t").asc)
    val sel = exTf.join(idf, "t")
      .withColumn("rn", row_number().over(wSel))
      .filter(col("rn") <= maxTerms)
      .select(col("t"), col("idf4"))
    tf.join(broadcast(sel), "t")
      .filter(col("doc_id") =!= exampleId)
      .groupBy(col("doc_id")).agg(sum(col("tf") * col("idf4")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("score"))
  }

  def moreLikeThisOracle(exampleId: Long = 7, maxTerms: Int = 12, k: Int = 20): String =
    s"""WITH extf AS (
       |  SELECT t, count(*) AS tf_ex FROM (
       |    SELECT unnest(string_split(text, ' ')) AS t
       |    FROM documents WHERE doc_id = $exampleId)
       |  GROUP BY t),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t IN (SELECT t FROM extf) GROUP BY doc_id, t),
       |idf AS (
       |  SELECT t, CAST(floor(ln((SELECT count(*) FROM documents)
       |           / CAST(count(DISTINCT doc_id) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS idf4
       |  FROM tf GROUP BY t),
       |sel AS (
       |  SELECT t, idf4 FROM (
       |    SELECT extf.t AS t, idf.idf4 AS idf4,
       |           row_number() OVER (ORDER BY extf.tf_ex * idf.idf4 DESC, extf.t ASC) AS rn
       |    FROM extf JOIN idf ON extf.t = idf.t)
       |  WHERE rn <= $maxTerms)
       |SELECT doc_id, CAST(sum(tf.tf * sel.idf4) AS BIGINT) AS score
       |FROM tf JOIN sel ON tf.t = sel.t
       |WHERE doc_id <> $exampleId
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC
       |LIMIT $k""".stripMargin

  /** q152 — FUNCTION SCORE (ES `function_score` with `field_value_factor`):
    * the lexical relevance score multiplied by a document-field boost —
    * here ln(1+n_chars), the "longer documents carry more evidence" factor
    * (ES modifier `ln1p`). The factor is rounded ONCE to a 1e4-scaled
    * BIGINT exactly like idf, so the combined score is an exact integer
    * product and the ranking is engine-total.
    *
    * Scale shape: the q61 scoring legs unchanged (broadcast idf into the
    * term-restricted postings), then one doc_id-keyed join of the
    * pre-aggregated scores against the narrow (doc_id, n_chars) projection
    * — both sides are already reduced, nothing corpus-wide shuffles twice.
    */
  def functionScore(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String] = DefaultTerms,
      k: Int = 20): DataFrame = {
    val scores = tfidfScores(spark, sfDir, terms)
    val fvf = Tables.documents(spark, sfDir).select(col("doc_id"),
      Det.quant(log(lit(1.0) + col("n_chars")) * 10000, 0).as("fvf4"))
    scores.join(fvf, "doc_id")
      .select(col("doc_id"), (col("score") * col("fvf4")).as("fscore"))
      .orderBy(col("fscore").desc, col("doc_id").asc)
      .limit(k)
  }

  def functionScoreOracle(terms: Seq[String] = DefaultTerms, k: Int = 20): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM tok
       |  WHERE t IN ($termList) GROUP BY doc_id, t),
       |idf AS (
       |  SELECT t, CAST(floor(ln((SELECT count(*) FROM documents)
       |           / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS idf4
       |  FROM tf GROUP BY t),
       |scores AS (
       |  SELECT doc_id, CAST(sum(tf.tf * idf.idf4) AS BIGINT) AS score
       |  FROM tf JOIN idf USING (t) GROUP BY doc_id)
       |SELECT s.doc_id,
       |       s.score * CAST(floor(ln(1.0 + d.n_chars) * 10000.0 + 0.5) AS BIGINT) AS fscore
       |FROM scores s JOIN documents d ON s.doc_id = d.doc_id
       |ORDER BY fscore DESC, s.doc_id ASC
       |LIMIT $k""".stripMargin
  }

  /** Stored percolator queries: (query_id, all-of-these-terms). Chosen so
    * the fixtures exercise multi-term conjunction, a rare term, overlap
    * between queries, and one query with zero matches (kept visible).
    */
  val DefaultPercolators: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("vector", "hash"),
    2 -> Seq("join", "order"),
    3 -> Seq("dup"),
    4 -> Seq("dup", "vector"),
    5 -> Seq("zebra"))

  /** q153 — PERCOLATE (ES percolator): the REVERSE search — a registry of
    * stored term-conjunction queries matched against the document corpus,
    * answering "which saved searches / alert rules does each document
    * trigger". Output is the per-query match count with zero-match queries
    * kept visible (the q149 zero-kill-rules discipline).
    *
    * Scale shape: the query registry is small by nature (alert rules, not
    * documents) and BROADCASTS into one corpus scan; each document
    * evaluates every query's conjunction as a narrow `forall` containment
    * predicate over the space-padded text (the q142 phrase trick — no
    * tokenize, no explode). The only exchange is the query-cardinality
    * count aggregate. The registry being data (not plan literals) is the
    * point: percolation registries update without replanning, and the
    * streaming twin runs the same broadcast-registry scan per micro-batch.
    */
  /** The percolator registry as a DataFrame — shared by the batch gate and
    * the streaming sink so both match with the one implementation.
    */
  def percolatorTable(
      spark: SparkSession,
      queries: Seq[(Int, Seq[String])] = DefaultPercolators): DataFrame = {
    import spark.implicits._
    queries.toDF("query_id", "terms")
      .select(col("query_id").cast("long"), col("terms"))
  }

  /** The matching core: per-query match counts of `docs` against the
    * registry `q`, zero-match queries kept visible. Broadcast-registry
    * corpus scan; the only exchange is the query-cardinality aggregate.
    */
  def percolateCounts(docs: DataFrame, q: DataFrame): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val matches = docs.crossJoin(broadcast(q))
      .filter(forall(col("terms"),
        t => padded.contains(concat(lit(" "), t, lit(" ")))))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_docs"))
    q.select(col("query_id")).join(matches, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("query_id"))
  }

  def percolate(
      spark: SparkSession,
      sfDir: String,
      queries: Seq[(Int, Seq[String])] = DefaultPercolators): DataFrame =
    percolateCounts(Tables.documents(spark, sfDir), percolatorTable(spark, queries))

  def percolateOracle(queries: Seq[(Int, Seq[String])] = DefaultPercolators): String =
    queries.map { case (id, ts) =>
      val pred = ts.map(t => s"contains(' ' || text || ' ', ' $t ')").mkString(" AND ")
      s"""SELECT CAST($id AS BIGINT) AS query_id,
         |  (SELECT count(*) FROM documents WHERE $pred) AS n_docs""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  /** q154 — COMPLETION SUGGEST (ES `completion` / `terms` suggester):
    * corpus terms with a given prefix ranked by frequency — the
    * autocomplete dropdown. Frequencies are exact counts so the
    * (n_hits DESC, term ASC) order is total on both engines. Served from
    * the persisted [[vocab]] store: a prefix filter + top-k over the term
    * dictionary — the latency class an autocomplete box needs, and on a
    * term-sorted dictionary layout a range scan.
    */
  def suggest(
      spark: SparkSession,
      sfDir: String,
      prefix: String = "s",
      k: Int = 10): DataFrame =
    vocab(spark, sfDir)
      .filter(col("term").startsWith(prefix))
      .select(col("term"), col("n_hits"), col("n_docs"))
      .orderBy(col("n_hits").desc, col("term").asc)
      .limit(k)

  /** The persisted POSITIONAL POSTINGS store — the other half of the ES
    * inverted index beside [[ensureVocabStore]]'s term dictionary:
    * (term, doc_id, pos) rows, one per corpus token occurrence. This is
    * what serves phrase and proximity queries WITHOUT rescanning text:
    * a phrase probe reads only its own terms' posting lists (term is a
    * pushed parquet filter) and intersects them on (doc_id, adjacent pos).
    * Corpus-token-sized by nature (it IS the index); at 100 TB the layout
    * is bucketed by term hash so each probe's lists co-locate — the same
    * build-once artifact discipline as every other index here.
    */
  def buildPostingsStore(spark: SparkSession, docs: DataFrame, outDir: String): Unit =
    docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      // Term-clustered layout: hash-partition by term, then sort each file
      // by (term, doc_id, pos). Parquet row-group min/max stats on `term`
      // then make the probes' pushed EqualTo(term,·) filters actually SKIP
      // row groups — without the sort, a pushed filter still decodes every
      // page. Same discipline as the LSH postings' pkey partitioning.
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"), col("pos"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(outDir)

  def ensurePostingsStore(spark: SparkSession, sfDir: String): String =
    graft.Stores.ensure(spark, "postings", s"$sfDir/documents.parquet", "sorted") { dir =>
      buildPostingsStore(spark, Tables.documents(spark, sfDir), dir)
    }

  /** q159 — PHRASE SEARCH against the POSITIONAL POSTINGS index: the same
    * `match_phrase` semantics as q142 served the way ES actually serves it
    * — per-term posting-list intersection on adjacent positions instead of
    * a full-text containment scan. Each phrase term reads ONLY its own
    * posting list (`term = …` is a pushed parquet filter, PlanSpec-locked);
    * consecutive lists join on (doc_id, pos+1); the document table is
    * touched only for the matches' metadata projection. Results are
    * identical to q142 by construction (same oracle, equality
    * spec-pinned): on the whitespace corpus, "terms at consecutive
    * positions" IS padded-substring containment.
    */
  def phraseSearchIndexed(
      spark: SparkSession,
      sfDir: String,
      phrase: String = "join order"): DataFrame = {
    val terms = phrase.split(" ").toSeq
    val store = graft.Readers.parquet(spark, ensurePostingsStore(spark, sfDir))
    val matches = terms.zipWithIndex.map { case (t, i) =>
      store.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("p0"))
    }.reduce(_.join(_, Seq("doc_id", "p0")))
      .select(col("doc_id")).distinct()
    Tables.documents(spark, sfDir)
      .join(matches, "doc_id")
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** q162 — SPAN NEAR / proximity search (ES `span_near` / `match_phrase`
    * with `slop`): ordered co-occurrence of two terms within a token
    * window — per document, the number of (first, second) position pairs
    * with 1 ≤ gap ≤ slop+1. Served from the positional postings store like
    * q159: each term reads its own pushed-filtered posting list, the pair
    * count is a doc-keyed join + band predicate on the integer positions.
    * Position DIFFERENCES are what the contract counts, so the 0-based
    * store and the oracle's 1-based subscripts agree by construction.
    */
  def spanNear(
      spark: SparkSession,
      sfDir: String,
      first: String = "join",
      second: String = "order",
      slop: Int = 2): DataFrame = {
    val store = graft.Readers.parquet(spark, ensurePostingsStore(spark, sfDir))
    val p1 = store.filter(col("term") === first).select(col("doc_id"), col("pos").as("p1"))
    val p2 = store.filter(col("term") === second).select(col("doc_id"), col("pos").as("p2"))
    p1.join(p2, "doc_id")
      .filter((col("p2") - col("p1")).between(1, slop + 1))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
      .orderBy(col("doc_id"))
  }

  def spanNearOracle(
      first: String = "join", second: String = "order", slop: Int = 2): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |p1 AS (SELECT doc_id, pos FROM tok WHERE t = '$first'),
       |p2 AS (SELECT doc_id, pos FROM tok WHERE t = '$second')
       |SELECT p1.doc_id, count(*) AS n_spans
       |FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
       |  AND p2.pos - p1.pos BETWEEN 1 AND ${slop + 1}
       |GROUP BY p1.doc_id
       |ORDER BY p1.doc_id""".stripMargin

  /** q163 — SCORE EXPLANATION (ES `_explain`): the per-term contribution
    * breakdown of one document's TF-IDF score — term, tf, df, idf4, and
    * the exact integer contribution, cross-footing to the q61 score. The
    * audit surface a relevance engineer reads when a ranking surprises;
    * integer contributions make the cross-foot EXACT (sum of rows = the
    * doc's q61 score, spec-pinned).
    *
    * Scale shape: the q61 legs restricted to one document at the end — the
    * per-term tables are the same broadcast-sized artifacts, the final
    * filter is a pushed doc_id predicate.
    */
  def explainScore(
      spark: SparkSession,
      sfDir: String,
      docId: Long = 7,
      terms: Seq[String] = DefaultTerms): DataFrame = {
    val doc = Tables.documents(spark, sfDir)
    val tf = termFreqs(spark, sfDir, terms)
    val n = doc.agg(count(lit(1)).as("n"))
    // df(t) from the persisted term dictionary — see [[docFreqs]].
    val dfreq = docFreqs(spark, sfDir, terms)
    val idf = dfreq.crossJoin(broadcast(n))
      .select(col("t"), col("df"),
        Det.quant(log(col("n") / col("df")) * 10000, 0).as("idf4"))
    tf.filter(col("doc_id") === docId)
      .join(broadcast(idf), "t")
      .select(col("t").as("term"), col("tf"), col("df"), col("idf4"),
        (col("tf") * col("idf4")).as("contribution"))
      .orderBy(col("term"))
  }

  def explainScoreOracle(docId: Long = 7, terms: Seq[String] = DefaultTerms): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM tok
       |  WHERE t IN ($termList) GROUP BY doc_id, t),
       |idf AS (
       |  SELECT t, count(*) AS df,
       |         CAST(floor(ln((SELECT count(*) FROM documents)
       |           / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS idf4
       |  FROM tf GROUP BY t)
       |SELECT tf.t AS term, tf.tf, idf.df, idf.idf4,
       |       tf.tf * idf.idf4 AS contribution
       |FROM tf JOIN idf ON tf.t = idf.t
       |WHERE tf.doc_id = $docId
       |ORDER BY term""".stripMargin
  }

  /** q167 — DISJUNCTION MAX (ES `dis_max`): per document, the BEST single
    * term's contribution plus `tieBreaker` times the rest — the scoring
    * mode for synonym-like term groups where summing would overweight
    * documents repeating one term. Exact integers throughout:
    * `mx + tbPermille·(total−mx) div 1000`, one grouped aggregate over the
    * same term-restricted postings as q61.
    */
  def disMax(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String] = DefaultTerms,
      tbPermille: Long = 300L,
      k: Int = 20): DataFrame = {
    val doc = Tables.documents(spark, sfDir)
    val tf = termFreqs(spark, sfDir, terms)
    val n = doc.agg(count(lit(1)).as("n"))
    // df(t) from the persisted term dictionary — see [[docFreqs]].
    val dfreq = docFreqs(spark, sfDir, terms)
    val idf = dfreq.crossJoin(broadcast(n))
      .select(col("t"), Det.quant(log(col("n") / col("df")) * 10000, 0).as("idf4"))
    tf.join(broadcast(idf), "t")
      .groupBy(col("doc_id"))
      .agg(max(col("tf") * col("idf4")).as("mx"),
        sum(col("tf") * col("idf4")).as("total"))
      .select(col("doc_id"),
        (col("mx") + expr(s"$tbPermille * (total - mx) div 1000")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  def disMaxOracle(
      terms: Seq[String] = DefaultTerms,
      tbPermille: Long = 300L,
      k: Int = 20): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM tok
       |  WHERE t IN ($termList) GROUP BY doc_id, t),
       |idf AS (
       |  SELECT t, CAST(floor(ln((SELECT count(*) FROM documents)
       |           / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS idf4
       |  FROM tf GROUP BY t),
       |agg AS (
       |  SELECT doc_id, CAST(max(tf.tf * idf.idf4) AS BIGINT) AS mx,
       |         CAST(sum(tf.tf * idf.idf4) AS BIGINT) AS total
       |  FROM tf JOIN idf USING (t) GROUP BY doc_id)
       |SELECT doc_id, mx + ($tbPermille * (total - mx)) // 1000 AS score
       |FROM agg
       |ORDER BY score DESC, doc_id ASC
       |LIMIT $k""".stripMargin
  }

  /** q168 — BOOSTING query (ES `boosting`): the positive query's ranking
    * with documents matching a NEGATIVE term demoted by `negPermille` —
    * soft exclusion (spam terms, boilerplate markers) instead of a hard
    * filter. Demotion is one integer multiply-divide on the BIGINT score;
    * the negative predicate is a narrow containment check in the same
    * projection.
    */
  def boostingQuery(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String] = DefaultTerms,
      negative: String = "slow",
      negPermille: Long = 500L,
      k: Int = 20): DataFrame = {
    val scores = tfidfScores(spark, sfDir, terms)
    // negative-term membership from the postings store (pushed EqualTo
    // probe): doc contains `negative` ⇔ it has ≥1 posting row for it —
    // the index-served twin of array_contains(tokens(text), negative).
    // No broadcast hint: neg is corpus-derived (df(negative) rows — a
    // common negative term makes it large), so size-based selection + AQE
    // choose; both join sides are already term-restricted reductions.
    val neg = graft.Readers.parquet(spark, ensurePostingsStore(spark, sfDir))
      .filter(col("term") === negative)
      .select(col("doc_id")).distinct()
      .withColumn("is_neg", lit(true))
    scores.join(neg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("is_neg"), lit(false)), expr(s"score * $negPermille div 1000"))
          .otherwise(col("score")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  def boostingQueryOracle(
      terms: Seq[String] = DefaultTerms,
      negative: String = "slow",
      negPermille: Long = 500L,
      k: Int = 20): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM tok
       |  WHERE t IN ($termList) GROUP BY doc_id, t),
       |idf AS (
       |  SELECT t, CAST(floor(ln((SELECT count(*) FROM documents)
       |           / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS idf4
       |  FROM tf GROUP BY t),
       |scores AS (
       |  SELECT doc_id, CAST(sum(tf.tf * idf.idf4) AS BIGINT) AS score
       |  FROM tf JOIN idf USING (t) GROUP BY doc_id)
       |SELECT s.doc_id,
       |       CASE WHEN list_contains(string_split(d.text, ' '), '$negative')
       |            THEN (s.score * $negPermille) // 1000 ELSE s.score END AS score
       |FROM scores s JOIN documents d ON s.doc_id = d.doc_id
       |ORDER BY score DESC, s.doc_id ASC
       |LIMIT $k""".stripMargin
  }

  /** q164 — RESCORE (ES `rescore`): re-rank the top-`window` of the cheap
    * first-pass ranking with a costlier second scorer — here a phrase-
    * proximity bonus (`bonus · spans of "first second" within slop`, the
    * classic "boost documents where the query terms appear TOGETHER").
    * Both passes are exact BIGINTs (q61 scores + integer span counts ×
    * integer bonus), so the combined order is engine-total. This is the
    * two-phase shape every production ranker uses — and the same shape as
    * the ANN gates' coarse-scan + exact re-rank, applied lexically.
    *
    * Scale: the expensive scorer runs on `window` rows only; the span
    * counts come from the postings store restricted to the two phrase
    * terms, joined against the window-sized candidate set.
    */
  def rescore(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String] = DefaultTerms,
      first: String = "join",
      second: String = "order",
      slop: Int = 2,
      window: Int = 20,
      bonus: Long = 5000L,
      k: Int = 10): DataFrame = {
    val base = tfidfTopDocs(spark, sfDir, terms, window)
    val spans = spanNear(spark, sfDir, first, second, slop)
    base.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("score"),
        (col("score") + coalesce(col("n_spans"), lit(0L)) * bonus).as("rescored"))
      .orderBy(col("rescored").desc, col("doc_id").asc)
      .limit(k)
  }

  def rescoreOracle(
      terms: Seq[String] = DefaultTerms,
      first: String = "join",
      second: String = "order",
      slop: Int = 2,
      window: Int = 20,
      bonus: Long = 5000L,
      k: Int = 10): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM tok
       |  WHERE t IN ($termList) GROUP BY doc_id, t),
       |idf AS (
       |  SELECT t, CAST(floor(ln((SELECT count(*) FROM documents)
       |           / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS idf4
       |  FROM tf GROUP BY t),
       |base AS (
       |  SELECT doc_id, CAST(sum(tf.tf * idf.idf4) AS BIGINT) AS score
       |  FROM tf JOIN idf USING (t) GROUP BY doc_id
       |  ORDER BY score DESC, doc_id ASC LIMIT $window),
       |p1 AS (SELECT doc_id, pos FROM tok WHERE t = '$first'),
       |p2 AS (SELECT doc_id, pos FROM tok WHERE t = '$second'),
       |spans AS (
       |  SELECT p1.doc_id, count(*) AS n_spans
       |  FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
       |    AND p2.pos - p1.pos BETWEEN 1 AND ${slop + 1}
       |  GROUP BY p1.doc_id)
       |SELECT base.doc_id, base.score,
       |       base.score + COALESCE(spans.n_spans, 0) * $bonus AS rescored
       |FROM base LEFT JOIN spans ON base.doc_id = spans.doc_id
       |ORDER BY rescored DESC, base.doc_id ASC
       |LIMIT $k""".stripMargin
  }

  /** q165 — FIELD COLLAPSING (ES `collapse`): the best-scoring document
    * PER SOURCE for a query — search-result diversity by group, the "one
    * hit per site" dial. Per-source rank-1 over (score DESC, doc_id ASC)
    * compiles to a WindowGroupLimit per-partition heap; sources rank in
    * parallel.
    */
  def collapseBySource(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String] = DefaultTerms): DataFrame = {
    val scores = tfidfScores(spark, sfDir, terms)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scores
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("source")), "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("doc_id"), col("score"))
      .orderBy(col("source"))
  }

  def collapseBySourceOracle(terms: Seq[String] = DefaultTerms): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM tok
       |  WHERE t IN ($termList) GROUP BY doc_id, t),
       |idf AS (
       |  SELECT t, CAST(floor(ln((SELECT count(*) FROM documents)
       |           / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS idf4
       |  FROM tf GROUP BY t),
       |ranked AS (
       |  SELECT doc_id, CAST(sum(tf.tf * idf.idf4) AS BIGINT) AS score
       |  FROM tf JOIN idf USING (t) GROUP BY doc_id)
       |SELECT source, doc_id, score FROM (
       |  SELECT d.source, r.doc_id, r.score,
       |         row_number() OVER (PARTITION BY d.source
       |           ORDER BY r.score DESC, r.doc_id ASC) AS rn
       |  FROM ranked r JOIN documents d ON r.doc_id = d.doc_id)
       |WHERE rn = 1
       |ORDER BY source""".stripMargin
  }

  /** q160 — BOOL SHOULD with minimum_should_match (ES `bool.should` +
    * `minimum_should_match`): documents matching at least `minMatch` of
    * the query terms, with the per-doc matched-term count — the relevance
    * recall knob between pure AND and pure OR. Each term is one narrow
    * token-containment predicate summed in the scan projection; no
    * explode, no join, one corpus scan.
    */
  def minimumShouldMatch(
      spark: SparkSession,
      sfDir: String,
      terms: Seq[String] = Seq("dup", "vector", "hash"),
      minMatch: Int = 2): DataFrame = {
    val toks = tokens(col("text"))
    val matched = terms.map(t => array_contains(toks, t).cast("long"))
      .reduce(_ + _)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), matched.as("n_matched"))
      .filter(col("n_matched") >= minMatch)
      .orderBy(col("doc_id"))
  }

  def minimumShouldMatchOracle(
      terms: Seq[String] = Seq("dup", "vector", "hash"),
      minMatch: Int = 2): String = {
    val summed = terms.map(t =>
      s"CAST(list_contains(string_split(text, ' '), '$t') AS BIGINT)")
      .mkString(" + ")
    s"""SELECT doc_id, ($summed) AS n_matched
       |FROM documents
       |WHERE ($summed) >= $minMatch
       |ORDER BY doc_id""".stripMargin
  }

  /** q157 — SIGNIFICANT TERMS (ES `significant_terms` aggregation): terms
    * unusually frequent in a query's result set (the FOREGROUND) relative
    * to the whole corpus (the BACKGROUND) — "what is this result set
    * about". The significance statistic is integer lift in ppm,
    * `n_fg·b_tot·10⁶ div (n_bg·f_tot)` — the q92/q126 exact-BIGINT
    * treatment of observed/expected ratios, so ranking ties are impossible
    * to perturb; ES's JLH/chi² variants are the same two frequency tables
    * under a different final formula.
    *
    * Scale shape: the background frequencies come from the persisted
    * [[vocab]] store (built once per corpus version); only the FOREGROUND
    * — the query's own result set — explodes live, and its term table is
    * Zipf-bounded before the broadcast-sized join against the dictionary.
    * `minFg` plays ES's `min_doc_count` role, cutting the
    * one-occurrence-in-a-small-foreground noise floor.
    */
  def significantTerms(
      spark: SparkSession,
      sfDir: String,
      term: String = "dup",
      topN: Int = 10,
      minFg: Int = 3): DataFrame = {
    val fgc = Tables.documents(spark, sfDir)
      .filter(array_contains(tokens(col("text")), term))
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n_fg"))
    val bgc = vocab(spark, sfDir).select(col("term"), col("n_hits").as("n_bg"))
    val ftot = fgc.agg(sum(col("n_fg")).as("f"))
    val btot = bgc.agg(sum(col("n_bg")).as("b"))
    fgc.join(bgc, "term")
      .crossJoin(broadcast(ftot)).crossJoin(broadcast(btot))
      .filter(col("n_fg") >= minFg)
      .select(col("term"), col("n_fg"), col("n_bg"),
        expr("n_fg * b * 1000000L div (n_bg * f)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("term").asc)
      .limit(topN)
  }

  def significantTermsOracle(
      term: String = "dup", topN: Int = 10, minFg: Int = 3): String =
    s"""WITH fg AS (
       |  SELECT text FROM documents
       |  WHERE list_contains(string_split(text, ' '), '$term')),
       |fgtok AS (SELECT unnest(string_split(text, ' ')) AS t FROM fg),
       |fgc AS (SELECT t, count(*) AS n_fg FROM fgtok GROUP BY t),
       |bgtok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
       |bgc AS (SELECT t, count(*) AS n_bg FROM bgtok GROUP BY t),
       |tot AS (SELECT (SELECT count(*) FROM fgtok) AS f,
       |               (SELECT count(*) FROM bgtok) AS b)
       |SELECT fgc.t AS term, n_fg, CAST(n_bg AS BIGINT) AS n_bg,
       |       CAST((n_fg * b * 1000000) // (CAST(n_bg AS BIGINT) * f) AS BIGINT) AS lift_ppm
       |FROM fgc JOIN bgc ON fgc.t = bgc.t CROSS JOIN tot
       |WHERE n_fg >= $minFg
       |ORDER BY lift_ppm DESC, term ASC
       |LIMIT $topN""".stripMargin

  /** q191 — RARE TERMS (ES `rare_terms` aggregation): the long-tail
    * complement of q157's significant-terms — terms appearing in at most
    * `maxDocs` documents, the bucket ES users reach for to surface
    * misspellings, contamination markers, and planted canaries that
    * frequency-ranked views never show. ES implements it as a
    * doc-count-bounded bucket agg (with a CuckooFilter approximation at
    * scale); here the counts are EXACT because they are served from the
    * persisted [[vocab]] store — the term dictionary is Zipf-bounded
    * (gigabytes where the corpus is terabytes), so the rare bucket is a
    * dictionary scan with `n_docs <= maxDocs` pushed into the parquet
    * reader, never a corpus re-explode (the store's exact counts are what
    * make the corpus-explode oracle hash-match). Ascending doc-count
    * order with a term tie-break, ES's rarest-first presentation.
    *
    * `maxDocs = 300` is calibrated to the fixture's planted rare term
    * ("dup": 5% of docs at every SF vs ~75% for the rest of the
    * vocabulary); real corpora use ES's default `max_doc_count = 1`
    * ballpark.
    */
  def rareTerms(
      spark: SparkSession,
      sfDir: String,
      maxDocs: Long = 300): DataFrame =
    vocab(spark, sfDir)
      .filter(col("n_docs") <= maxDocs)
      .select(col("term"), col("n_hits"), col("n_docs"))
      .orderBy(col("n_docs").asc, col("term").asc)

  def rareTermsOracle(maxDocs: Long = 300): String =
    s"""WITH x AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents)
       |SELECT t AS term, count(*) AS n_hits,
       |       count(DISTINCT doc_id) AS n_docs
       |FROM x GROUP BY t
       |HAVING count(DISTINCT doc_id) <= $maxDocs
       |ORDER BY n_docs ASC, term ASC""".stripMargin

  /** q199 — ADJACENCY MATRIX aggregation (ES `adjacency_matrix`): named
    * filters plus every pairwise intersection, one doc-count bucket each —
    * the co-occurrence view ES users build segment-overlap dashboards
    * from. The scale shape mirrors ES's own per-shard execution: each
    * document evaluates its N filter flags IN THE SCAN (no per-filter
    * pass, no doc ids shuffled), and the N + N·(N-1)/2 counters reduce
    * through ONE map-side-combined aggregate to a single row; `stack`
    * then unpivots that row into the bucket list — bucket-cardinality
    * work, corpus-independent. Empty buckets are dropped and keys sort
    * ascending ("a&b" with the key halves in filter-declaration order),
    * ES's sparse keyed-bucket contract.
    */
  def adjacencyMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val flagged = Tables.documents(spark, sfDir).select(
      (col("lang") === "en").cast("long").as("f_en"),
      (col("n_chars") >= 300).cast("long").as("f_long"),
      col("source").startsWith("src1").cast("long").as("f_srcA"))
    flagged.agg(
        sum(col("f_en")).as("en"),
        sum(col("f_long")).as("long"),
        sum(col("f_srcA")).as("srcA"),
        sum(col("f_en") * col("f_long")).as("en_long"),
        sum(col("f_en") * col("f_srcA")).as("en_srcA"),
        sum(col("f_long") * col("f_srcA")).as("long_srcA"))
      .select(expr(
        """stack(6,
          |  'en', en, 'long', long, 'srcA', srcA,
          |  'en&long', en_long, 'en&srcA', en_srcA,
          |  'long&srcA', long_srcA) AS (key, doc_count)""".stripMargin))
      .filter(col("doc_count") > 0)
      .orderBy(col("key"))
  }

  val adjacencyMatrixOracle: String =
    """WITH f AS (
      |  SELECT CAST(lang = 'en' AS BIGINT) AS f_en,
      |         CAST(n_chars >= 300 AS BIGINT) AS f_long,
      |         CAST(source LIKE 'src1%' AS BIGINT) AS f_srcA
      |  FROM documents),
      |c AS (
      |  SELECT CAST(sum(f_en) AS BIGINT) AS en,
      |         CAST(sum(f_long) AS BIGINT) AS lng,
      |         CAST(sum(f_srcA) AS BIGINT) AS srcA,
      |         CAST(sum(f_en * f_long) AS BIGINT) AS en_long,
      |         CAST(sum(f_en * f_srcA) AS BIGINT) AS en_srcA,
      |         CAST(sum(f_long * f_srcA) AS BIGINT) AS long_srcA
      |  FROM f),
      |b AS (
      |  SELECT 'en' AS key, en AS doc_count FROM c
      |  UNION ALL SELECT 'long', lng FROM c
      |  UNION ALL SELECT 'srcA', srcA FROM c
      |  UNION ALL SELECT 'en&long', en_long FROM c
      |  UNION ALL SELECT 'en&srcA', en_srcA FROM c
      |  UNION ALL SELECT 'long&srcA', long_srcA FROM c)
      |SELECT key, doc_count FROM b WHERE doc_count > 0
      |ORDER BY key""".stripMargin

  /** q200 — MULTI-TERMS aggregation (ES `multi_terms`): top composite
    * (lang, source) buckets by doc count with a per-bucket metric — the
    * multi-field terms agg ES added so users stop concatenating fields
    * into synthetic keys. One partial+final hash aggregate over the
    * composite key, then `TakeOrderedAndProject` for the size-k
    * presentation (count desc, key asc tie-break — ES's ordering) — no
    * global sort materializes at scale, and the composite-key cardinality
    * (langs × sources) bounds the final heap.
    */
  def multiTerms(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("doc_count"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("doc_count").desc, col("lang").asc, col("source").asc)
      .limit(k)

  def multiTermsOracle(k: Int = 10): String =
    s"""SELECT lang, source, count(*) AS doc_count,
       |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM documents GROUP BY lang, source
       |ORDER BY doc_count DESC, lang ASC, source ASC LIMIT $k""".stripMargin

  def suggestOracle(prefix: String = "s", k: Int = 10): String =
    s"""WITH x AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents)
       |SELECT t AS term, count(*) AS n_hits,
       |       count(DISTINCT doc_id) AS n_docs
       |FROM x WHERE t LIKE '$prefix%'
       |GROUP BY t ORDER BY n_hits DESC, term ASC LIMIT $k""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q61_tfidf_search" -> ((s: SparkSession, d: String) => tfidfTopDocs(s, d)),
    "q62_bm25_scores" -> ((s: SparkSession, d: String) => bm25Scores(s, d)),
    "q88_rrf_fusion" -> ((s: SparkSession, d: String) => rrfFusion(s, d)),
    "q142_phrase_search" -> ((s: SparkSession, d: String) => phraseSearch(s, d)),
    "q143_fuzzy_search" -> ((s: SparkSession, d: String) => fuzzySearch(s, d)),
    "q144_regex_search" -> ((s: SparkSession, d: String) => regexSearch(s, d)),
    "q145_highlight" -> ((s: SparkSession, d: String) => highlightSearch(s, d)),
    "q146_search_after" -> ((s: SparkSession, d: String) => searchAfter(s, d)),
    "q147_faceted_search" -> ((s: SparkSession, d: String) => facetedSearch(s, d)),
    "q151_more_like_this" -> ((s: SparkSession, d: String) => moreLikeThis(s, d)),
    "q152_function_score" -> ((s: SparkSession, d: String) => functionScore(s, d)),
    "q153_percolate" -> ((s: SparkSession, d: String) => percolate(s, d)),
    "q154_suggest" -> ((s: SparkSession, d: String) => suggest(s, d)),
    "q157_significant_terms" -> ((s: SparkSession, d: String) => significantTerms(s, d)),
    "q191_rare_terms" -> ((s: SparkSession, d: String) => rareTerms(s, d)),
    "q199_adjacency_matrix" -> ((s: SparkSession, d: String) => adjacencyMatrix(s, d)),
    "q200_multi_terms" -> ((s: SparkSession, d: String) => multiTerms(s, d)),
    "q159_phrase_indexed" -> ((s: SparkSession, d: String) => phraseSearchIndexed(s, d)),
    "q160_min_should_match" -> ((s: SparkSession, d: String) => minimumShouldMatch(s, d)),
    "q162_span_near" -> ((s: SparkSession, d: String) => spanNear(s, d)),
    "q163_explain_score" -> ((s: SparkSession, d: String) => explainScore(s, d)),
    "q164_rescore" -> ((s: SparkSession, d: String) => rescore(s, d)),
    "q165_collapse" -> ((s: SparkSession, d: String) => collapseBySource(s, d)),
    "q167_dis_max" -> ((s: SparkSession, d: String) => disMax(s, d)),
    "q168_boosting" -> ((s: SparkSession, d: String) => boostingQuery(s, d)),
    "q169_prefix_search" -> ((s: SparkSession, d: String) => prefixSearch(s, d)),
    "q176_wildcard_search" -> ((s: SparkSession, d: String) => wildcardSearch(s, d)),
    "q181_composite_agg" -> ((s: SparkSession, d: String) => compositeAgg(s, d)),
    "q182_span_first" -> ((s: SparkSession, d: String) => spanFirst(s, d)),
    "q187_match_phrase_prefix" -> ((s: SparkSession, d: String) => matchPhrasePrefix(s, d)),
    "q170_synonym_search" -> ((s: SparkSession, d: String) => synonymSearch(s, d)),
    "q171_term_vectors" -> ((s: SparkSession, d: String) => termVectors(s, d)))

  val oracles: Map[String, String] = Map(
    "q61_tfidf_search" -> tfidfOracle(),
    "q62_bm25_scores" -> bm25Oracle(),
    "q88_rrf_fusion" -> rrfOracle(),
    "q142_phrase_search" -> phraseSearchOracle(),
    "q143_fuzzy_search" -> fuzzySearchOracle(),
    "q144_regex_search" -> regexSearchOracle(),
    "q145_highlight" -> highlightSearchOracle(),
    "q146_search_after" -> searchAfterOracle(),
    "q147_faceted_search" -> facetedSearchOracle(),
    "q151_more_like_this" -> moreLikeThisOracle(),
    "q152_function_score" -> functionScoreOracle(),
    "q153_percolate" -> percolateOracle(),
    "q154_suggest" -> suggestOracle(),
    "q157_significant_terms" -> significantTermsOracle(),
    "q191_rare_terms" -> rareTermsOracle(),
    "q199_adjacency_matrix" -> adjacencyMatrixOracle,
    "q200_multi_terms" -> multiTermsOracle(),
    // q159 serves q142's semantics from the postings index: same oracle.
    "q159_phrase_indexed" -> phraseSearchOracle(),
    "q160_min_should_match" -> minimumShouldMatchOracle(),
    "q162_span_near" -> spanNearOracle(),
    "q163_explain_score" -> explainScoreOracle(),
    "q164_rescore" -> rescoreOracle(),
    "q165_collapse" -> collapseBySourceOracle(),
    "q167_dis_max" -> disMaxOracle(),
    "q168_boosting" -> boostingQueryOracle(),
    "q169_prefix_search" -> prefixSearchOracle(),
    "q176_wildcard_search" -> wildcardSearchOracle(),
    "q181_composite_agg" -> compositeAggOracle(),
    "q182_span_first" -> spanFirstOracle(),
    "q187_match_phrase_prefix" -> matchPhrasePrefixOracle(),
    "q170_synonym_search" -> synonymSearchOracle(),
    "q171_term_vectors" -> termVectorsOracle())
}
