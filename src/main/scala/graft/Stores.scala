package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.operators.{Index, Lifecycle}

/** The ONE build-once discipline for every persisted store (SURVEY §2.A
  * A3–A4: the reference builds its model doc, stored `_source` and hash-term
  * postings once and reuses them). A store is a directory under the JVM
  * temp dir, built from one driver fixture; every `ensure*` entry point is a
  * call to [[ensure]], so keying, locking, crash recovery and completeness
  * are decided here and nowhere else.
  */
object Stores {

  /** Completion sentinel, `<dir>/_params`. Builds that sign their rows
    * (band, gram, span, line-dict, novelty, cell) write their own signing
    * tag here LAST and their appends/probes check it verbatim; every other
    * store is signed by [[ensure]] with its key params. An underscore file,
    * so parquet reads of the store root never see it.
    */
  val Sentinel = "_params"

  /** Build-once store for (`fixture`, `family`, `params`); returns its
    * directory, `tmpdir/graft-<family>-<key>`. In order:
    *
    *   1. key — `fixture`'s "mtime:length" signature ([[Tables.fixtureSig]])
    *      with family, params and [[Index.LayoutVersion]], so a regenerated
    *      fixture or a layout change lands in a fresh directory;
    *   2. lock — a per-directory lock ([[Memo.exclusive]]), so concurrent
    *      callers of one key run one build;
    *   3. settle — [[Lifecycle.settleStore]] rolls a crashed compaction swap
    *      forward BEFORE the sentinel check: with the live dir missing the
    *      sentinel is absent, and a rebuild would recreate a corpus-only
    *      store beside `_old`, losing every appended row when the next
    *      compaction clears its staging;
    *   4. sentinel — when [[Sentinel]] is absent, `build(dir)` runs (it must
    *      replace whatever a crashed build left), then the sentinel is
    *      written unless the build signed the store itself. A build that
    *      throws leaves no sentinel, so the next call rebuilds.
    *
    * The sentinel is re-checked on disk on every call (nothing memoizes the
    * path), so a deleted store rebuilds.
    */
  def ensure(spark: SparkSession, family: String, fixture: String, params: String)(
      build: String => Unit): String = {
    val key = Index.cacheKey(
      s"$fixture:${Tables.fixtureSig(spark, fixture)}:$family:$params:v${Index.LayoutVersion}")
    val dir = new java.io.File(sys.props("java.io.tmpdir"), s"graft-$family-$key").getAbsolutePath
    Memo.exclusive(dir) {
      Lifecycle.settleStore(spark, dir)
      if (!new java.io.File(dir, Sentinel).exists()) {
        build(dir)
        val sentinel = new Path(dir, Sentinel)
        val fs = Lifecycle.fsOf(spark, dir)
        if (!fs.exists(sentinel)) Lifecycle.writeMarker(fs, sentinel, params)
      }
    }
    dir
  }
}
