package graft

import java.util.concurrent.atomic.AtomicInteger

/** The build-once contract of [[Stores.ensure]] on fresh keys: one build
  * per key under concurrent callers, and no sentinel after a failed build.
  */
class StoresSpec extends SparkSpec {

  private def freshParams(): String = java.util.UUID.randomUUID().toString
  private val fixture = s"$sf0001/documents.parquet"

  private def drop(dir: String): Unit = {
    val f = new java.io.File(dir)
    if (f.exists()) java.nio.file.Files.walk(f.toPath)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
  }

  private def writeRow(dir: String): Unit = {
    import spark.implicits._
    Seq(1L).toDF("x").write.mode("overwrite").parquet(dir)
  }

  test("two concurrent callers of one fresh key run one build") {
    val params = freshParams()
    val builds = new AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        start.await()
        results.add(Stores.ensure(spark, "storesspec", fixture, params) { dir =>
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open so the second caller arrives mid-build
          writeRow(dir)
        })
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    val dirs = results.toArray(Array.empty[String]).toSeq.distinct
    try {
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(dirs.size == 1 && results.size == 2)
      assert(new java.io.File(dirs.head, Stores.Sentinel).exists())
      assert(dirs.head.contains("graft-storesspec-"))
    } finally dirs.foreach(drop)
  }

  test("a build that throws leaves no sentinel, and the next call rebuilds") {
    val params = freshParams()
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Stores.ensure(spark, "storesspec", fixture, params) { dir =>
        builds.incrementAndGet()
        writeRow(dir)
        throw new IllegalStateException("build failed after writing data")
      }
    }
    assert(e.getMessage.contains("build failed"))
    val dir = Stores.ensure(spark, "storesspec", fixture, params) { dir =>
      builds.incrementAndGet()
      writeRow(dir)
    }
    try {
      assert(builds.get == 2, "the failed build's data was served without a sentinel")
      val sentinel = java.nio.file.Paths.get(dir, Stores.Sentinel)
      assert(new String(java.nio.file.Files.readAllBytes(sentinel), "UTF-8") == params,
        "an unsigned build is signed with its key params")
      // a warm call builds nothing
      Stores.ensure(spark, "storesspec", fixture, params)(_ => builds.incrementAndGet())
      assert(builds.get == 2)
    } finally drop(dir)
  }
}
