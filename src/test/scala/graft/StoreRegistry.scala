package graft

import org.apache.spark.sql.SparkSession

import graft.{operators => ops}

/** Every public build-once store entry point ([[Stores.ensure]] callers),
  * each at its default parameters and returning its store directory. The
  * builder plan lints sweep these builds; the store crash tests run their
  * sentinel and settle checks over every one.
  */
object StoreRegistry {

  def entries(spark: SparkSession, sfDir: String): Seq[(String, () => String)] = Seq(
    "lsh_index" -> (() => ops.Index.ensure(spark, sfDir)),
    "ivf_index" -> (() => ops.Vectors.ensureIvfIndex(spark, sfDir)),
    "pq_index" -> (() => ops.Pq.ensurePqIndex(spark, sfDir)),
    "sq_index" -> (() => ops.Pq.ensureSqIndex(spark, sfDir)),
    "ivfpq_index" -> (() => ops.Pq.ensureIvfPqIndex(spark, sfDir)),
    "bq_index" -> (() => ops.Pq.ensureBqIndex(spark, sfDir)),
    "shingle_pairs" -> (() => ops.Text.ensureShinglePairs(spark, sfDir)),
    "pair_postings" -> (() => ops.Vectors.ensurePairPostings(spark, sfDir)),
    "phash_store" -> (() => ops.Media.ensurePhashStore(spark, sfDir)),
    "clean_survivors" -> (() => ops.Text.ensureCleanSurvivors(spark, sfDir)),
    "contaminated_ids" -> (() => ops.Text.ensureContaminatedIds(spark, sfDir)),
    "line_removals" -> (() => ops.Text.ensureLineRemovals(spark, sfDir)),
    "span_hits" -> (() => ops.Text.ensureSpanHits(spark, sfDir)),
    "span_store" -> (() => ops.Text.ensureSpanStore(spark, sfDir)),
    "line_dict_store" -> (() => ops.Text.ensureLineDictStore(spark, sfDir)),
    "novelty_gram_store" -> (() => ops.Text.ensureNoveltyGramStore(spark, sfDir)),
    "vocab_store" -> (() => ops.Retrieval.ensureVocabStore(spark, sfDir)),
    "postings_store" -> (() => ops.Retrieval.ensurePostingsStore(spark, sfDir)),
    "norms_store" -> (() => ops.Retrieval.ensureNormsStore(spark, sfDir)),
    "digest_store" -> (() => ops.Text.ensureDigestStore(spark, sfDir)),
    "band_store" -> (() => ops.Text.ensureBandStore(spark, sfDir)),
    "cell_store" -> (() => ops.Vectors.ensureCellStore(spark, sfDir)),
    "gram_store" -> (() => ops.Text.ensureGramStore(spark, sfDir)),
    "label_store" -> (() => ops.Components.ensureLabelStore(spark, sfDir)),
    // returns a scan of its store; the directory is the files' parent
    "kmeans_table" -> (() => new org.apache.hadoop.fs.Path(
      ops.Vectors.kmeansModelTable(spark, sfDir).inputFiles.head).getParent.toUri.getPath))
}
