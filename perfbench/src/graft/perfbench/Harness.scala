package graft.perfbench

import java.io.{File, FileInputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Index, Knn, Lsh}

/** JVM side of the LSH benchmark: one workload, one closed-loop client, one
  * `local[N]` session. Inputs (corpus parquet, query vectors, exact top-10
  * ids, append and delete batches) are generated beforehand by `gen.py`
  * and described by a properties file; this program times the engine's
  * public calls, checks every result, and writes one JSON result file.
  *
  * Run phases, the same for every workload:
  *   1. set-up: session start, `builds` cold `Index.ensure` calls on
  *      separate copies of the corpus (set-up time counts their median),
  *      then one untimed search;
  *   2. the timed closed loop of the workload's operation for `seconds`;
  *   3. the write epilogue: fixed append/delete rounds, then `compact` +
  *      `vacuum`, then a check that the index holds exactly the live ids.
  *
  * Usage: Harness <spec.properties>
  */
object Harness {

  final class Spec(path: String) {
    private val p = new java.util.Properties()
    locally { val in = new FileInputStream(path); try p.load(in) finally in.close() }
    def str(k: String): String = Option(p.getProperty(k)).getOrElse(sys.error(s"spec lacks $k"))
    def int(k: String): Int = str(k).toInt
    def list(k: String): Seq[String] = str(k).split(',').toSeq.filter(_.nonEmpty)
  }

  private def readFloats(path: String, dim: Int): Array[Array[Float]] = {
    val buf = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(buf.remaining() / 4 / dim)(Array.fill(dim)(buf.getFloat()))
  }

  private def readLongs(path: String, width: Int): Array[Array[Long]] = {
    val buf = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(buf.remaining() / 8 / width)(Array.fill(width)(buf.getLong()))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def dirStats(dir: File): (Long, Long) =
    if (dir.isFile) (dir.length(), 1L)
    else Option(dir.listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith(".") || f.getName == "_SUCCESS")
      .map(dirStats).foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  private def rssHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val spec = new Spec(args(0))
    val workload = spec.str("workload")
    val traced = spec.int("trace") == 1
    val seconds = spec.int("seconds")
    val cores = spec.int("cores")
    val dim = spec.int("dim")
    val n = spec.int("n")
    val k1 = spec.int("k1")
    val k2 = spec.int("k2")
    val queries = readFloats(spec.str("queries"), dim)
    val truth = readLongs(spec.str("truth"), k2)
    val tracer = new Tracer(traced)
    val errors = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L

    // Host-phase probe before the run; its time is kept out of set-up.
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val probeT0 = System.nanoTime()
    val probePre = graft.Bench.throttleProbe("pre", cores)
    val probeSec = (System.nanoTime() - probeT0) / 1e9
    // Seconds since process start at each phase boundary, kept in the record.
    val timeline = mutable.LinkedHashMap[String, Double]()
    def mark(phase: String): Unit =
      timeline(phase) = (System.currentTimeMillis() - processStartMs) / 1e3
    mark("probe")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      // The engine's canonical session config (graft.Bench).
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val listener = new LayerListener
    if (traced) sc.addSparkListener(listener)
    val sessionSec = (System.currentTimeMillis() - processStartMs) / 1e3 - probeSec
    mark("session")

    // ---- live-set bookkeeping for the output checks
    val live = mutable.HashSet[Long]()
    (0L until n.toLong).foreach(live += _)

    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      if (errors.size < 5) errors += s"$what: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"
    }

    /** Output checks for one search result: per query at most k2 rows,
      * ranks 1..m in order, distances non-decreasing, no excluded id, every
      * id live. Returns the neighbour ids per query.
      */
    def check(rows: Array[Row], exclude: Long => Option[Long]): Map[Long, Seq[Long]] = {
      val byQuery = rows.groupBy(_.getLong(0))
      byQuery.foreach { case (q, rs) =>
        require(rs.length <= k2, s"query $q returned ${rs.length} rows > k2=$k2")
        val ranks = rs.map(_.getInt(2)).toSeq
        require(ranks == (1 to rs.length), s"query $q ranks $ranks")
        val dists = rs.map(_.getDouble(4))
        require(dists.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)), s"query $q distances not sorted")
        rs.foreach { r =>
          val id = r.getLong(1)
          require(!exclude(q).contains(id), s"query $q returned excluded id $id")
          require(live.contains(id), s"query $q returned id $id, which is not live")
        }
      }
      byQuery.map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
    }

    def recall(got: Seq[Long], want: Array[Long]): Double =
      got.count(want.contains).toDouble / want.length

    // ---- per-search measurements
    val searchMs = mutable.ArrayBuffer[Double]()
    var queriesAnswered = 0L
    var recallSum = 0.0
    var recallN = 0L
    val planMs, execMs = mutable.ArrayBuffer[Double]()
    val phaseMs = mutable.Map[String, Double]().withDefaultValue(0.0)
    var postingsRows, collisionRows, candidateRows, k1Rows, k2Rows = 0L
    var tracedSearches = 0L
    var opId = 0

    /** One timed search: build the plan, collect, check, score recall. */
    def timedSearch(label: String, build: => DataFrame, exclude: Long => Option[Long],
        truthOf: Long => Array[Long], nQueries: Int, record: Boolean = true,
        trace: Boolean = traced): Unit = {
      attempted += 1
      tracer.op = opId; opId += 1
      def span[T](name: String)(body: => T): T = if (trace) tracer.span(name)(body) else body
      try span("search") {
        val t0 = System.nanoTime()
        val (df, rows) = Trace.inLayer(sc, "knn.search") {
          val t1 = System.nanoTime()
          val df = span(s"knn.$label")(build)
          val t2 = System.nanoTime()
          val rows = span("knn.collect")(df.collect())
          val t3 = System.nanoTime()
          if (trace) { planMs += (t2 - t1) / 1e6; execMs += (t3 - t2) / 1e6 }
          (df, rows)
        }
        val dt = (System.nanoTime() - t0) / 1e6
        if (trace) {
          Trace.phases(df).foreach { case (k, v) => phaseMs(k) += v }
          val (p, c, cand, k1r) = Trace.knnRows(df)
          postingsRows += p; collisionRows += c; candidateRows += cand; k1Rows += k1r
          k2Rows += rows.length
          tracedSearches += 1
        }
        val got = span("check")(check(rows, exclude))
        if (record) {
          searchMs += dt
          queriesAnswered += nQueries
          got.foreach { case (q, ids) => recallSum += recall(ids, truthOf(q)); recallN += 1 }
          // A query with no result row scores zero recall.
          val missing = nQueries - got.size
          if (missing > 0) recallN += missing
        }
      } catch { case e: Throwable => fail(s"search $label", e) }
    }

    // ---- the workload's operation
    val buildDirs = spec.list("build_dirs")
    val bucketCap = Lsh.autoBucketCap(n.toLong)
    var indexDir = ""
    val batch = workload == "batch-search"
    val batchSize = spec.int("batch_size")

    /** point-search: one raw-vector search of held-out query i. batch-search:
      * one search of every stored id below `batch_size`, each excluding
      * itself.
      */
    def search(i: Int, record: Boolean = true, trace: Boolean = traced): Unit =
      if (batch)
        timedSearch("searchIndex",
          Knn.searchIndex(spark, indexDir, batchSize.toLong, k1, k2, bucketCap = bucketCap),
          q => Some(q), q => truth(q.toInt), batchSize, record, trace)
      else {
        val qi = i % queries.length
        timedSearch("searchIndexByVector",
          Knn.searchIndexByVector(spark, indexDir, queries(qi), k1, k2, bucketCap = bucketCap),
          _ => None, _ => truth(qi), 1, record, trace)
      }

    // ---- lifecycle calls
    val appendDirs = spec.list("append_dirs")
    val appendPerRound = spec.int("append_per_round")
    val deletes = readLongs(spec.str("deletes"), spec.int("delete_per_round"))
    val lifecycleMs = mutable.Map[String, Double]().withDefaultValue(0.0)

    def lifecycle(name: String)(body: => Unit): Double = {
      attempted += 1
      tracer.op = opId; opId += 1
      val t0 = System.nanoTime()
      try Trace.inLayer(sc, s"lifecycle.$name")(tracer.span(s"lifecycle.$name")(body))
      catch { case e: Throwable => fail(name, e) }
      val ms = (System.nanoTime() - t0) / 1e6
      lifecycleMs(name) += ms
      ms
    }

    // ---- 1. set-up: cold builds of separate corpus copies, then one search
    val buildSec = mutable.ArrayBuffer[Double]()
    buildDirs.foreach { dir =>
      attempted += 1
      tracer.op = opId; opId += 1
      val t0 = System.nanoTime()
      try {
        indexDir = Trace.inLayer(sc, "index.build")(tracer.span("index.ensure")(Index.ensure(spark, dir)))
        buildSec += (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable => fail("build", e) }
    }
    require(indexDir.nonEmpty, s"no index was built: ${errors.mkString("; ")}")
    mark("builds")
    val firstT0 = System.nanoTime()
    search(0, record = false, trace = false)
    val firstSearchSec = (System.nanoTime() - firstT0) / 1e9
    val (model, numBuckets) = Lsh.loadModelCached(spark, s"$indexDir/model")
    mark("setup")

    // ---- 2. the timed closed loop
    val loopT0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - loopT0) / 1e9 < seconds) { search(i); i += 1 }
    mark("loop")
    val (indexBytes, indexFiles) = dirStats(new File(indexDir))
    val vectorsAtLoopEnd = live.size

    // Tracing overhead: alternate untraced and traced searches of one query.
    val overheadMs =
      if (!traced) 0.0
      else {
        val off, on = mutable.ArrayBuffer[Double]()
        (0 until (if (batch) 3 else 8)).foreach { _ =>
          sc.removeSparkListener(listener)
          var t0 = System.nanoTime()
          search(0, record = false, trace = false)
          off += (System.nanoTime() - t0) / 1e6
          sc.addSparkListener(listener)
          t0 = System.nanoTime()
          search(0, record = false)
          on += (System.nanoTime() - t0) / 1e6
        }
        mark("overhead_pairs")
        median(on.toSeq) - median(off.toSeq)
      }

    // ---- 3. write epilogue: append/delete rounds, then maintenance
    for (r <- appendDirs.indices) {
      lifecycle("append")(Index.append(spark, indexDir, spark.read.parquet(appendDirs(r))))
      (n.toLong + r.toLong * appendPerRound until n.toLong + (r + 1L) * appendPerRound).foreach(live += _)
      lifecycle("delete")(Index.delete(spark, indexDir, deletes(r).toSeq))
      deletes(r).foreach(live -= _)
    }
    val filesAfterAppends = dirStats(new File(s"$indexDir/postings"))._2
    val compactMs = lifecycle("compact")(Index.compact(spark, indexDir))
    val vacuumMs = lifecycle("vacuum")(Index.vacuum(spark, indexDir))
    // The maintained index must hold exactly the live ids.
    attempted += 1
    try {
      val stored = Index.liveVectors(spark, indexDir).select("vec_id").collect().map(_.getLong(0))
      require(stored.length == live.size && stored.toSet == live,
        s"index holds ${stored.length} live ids (${stored.toSet.size} distinct), expected ${live.size}")
    } catch { case e: Throwable => fail("live ids after maintenance", e) }

    mark("epilogue")
    // ---- per-layer probes of the traced run, outside the timed loop
    val layer = mutable.LinkedHashMap[String, (Double, String)]()
    if (traced) {
      val emb = graft.Tables.embeddings(spark, buildDirs.head)
      tracer.op = opId; opId += 1
      val fitT0 = System.nanoTime()
      Trace.inLayer(sc, "lsh.fit")(tracer.span("lsh.fit")(Lsh.fit(emb, model.tables, model.bits)))
      val fitMs = (System.nanoTime() - fitT0) / 1e6
      tracer.op = opId; opId += 1
      val hashT0 = System.nanoTime()
      Trace.inLayer(sc, "lsh.hash")(tracer.span("lsh.withHashes")(
        Lsh.withHashes(spark, emb, model).agg(sum(size(col("hashes")))).collect()))
      val hashSec = (System.nanoTime() - hashT0) / 1e9
      val probeVecs =
        if (batch)
          Index.vectors(spark, indexDir).filter(col("vec_id") < batchSize.toLong)
            .select("embedding").collect().map(_.getSeq[Float](0).toArray)
        else queries
      val reps = math.max(1, 20000 / probeVecs.length)
      val qhT0 = System.nanoTime()
      var sink = 0L // keeps the hash calls from being optimised away
      (0 until reps).foreach(_ => probeVecs.foreach(v => sink += model.hashVector(v)(0)))
      val queryHashUs = (System.nanoTime() - qhT0) / 1e3 / (reps * probeVecs.length)
      if (sink == 42L) println(sink)
      def pkeys(v: Array[Float]): Set[Int] =
        model.hashVector(v).zipWithIndex.map { case (h, t) => Index.pkeyOf(t, h, numBuckets) }.toSet
      val probedFrac =
        if (batch) probeVecs.map(pkeys).reduce(_ ++ _).size.toDouble / numBuckets
        else probeVecs.map(v => pkeys(v).size.toDouble / numBuckets).sum / probeVecs.length

      org.apache.spark.graft.ListenerDrain.drain(sc)
      val s = listener.get("knn.search")
      val ns = math.max(1L, tracedSearches).toDouble
      def per(v: Double) = v / ns
      layer ++= Seq(
        "lsh.fit_ms" -> (fitMs, "ms"),
        "lsh.hash_vectors_per_s" -> (n / hashSec, "vectors/s"),
        "lsh.query_hash_us" -> (queryHashUs, "us"),
        "index.build_ms" -> (median(buildSec.toSeq) * 1e3, "ms"),
        "index.bytes_on_disk" -> (indexBytes.toDouble, "bytes"),
        "index.files" -> (indexFiles.toDouble, "count"),
        "index.pkeys_probed_frac" -> (probedFrac, "fraction"),
        "index.input_bytes_per_search" -> (per(s.inputBytes), "bytes"),
        "index.input_rows_per_search" -> (per(s.inputRows), "rows"),
        "index.scan_useful_ratio" -> (collisionRows.toDouble / math.max(1L, postingsRows), "fraction"),
        "lifecycle.append_ms" -> (lifecycleMs("append") / appendDirs.size, "ms"),
        "lifecycle.delete_ms" -> (lifecycleMs("delete") / appendDirs.size, "ms"),
        "lifecycle.compact_ms" -> (compactMs, "ms"),
        "lifecycle.vacuum_ms" -> (vacuumMs, "ms"),
        "lifecycle.files_after_appends" -> (filesAfterAppends.toDouble, "count"),
        "knn.plan_ms" -> (median(planMs.toSeq), "ms"),
        "knn.exec_ms" -> (median(execMs.toSeq), "ms"),
        "knn.collision_rows" -> (per(collisionRows), "rows"),
        "knn.candidate_rows" -> (per(candidateRows), "rows"),
        "knn.k1_rows" -> (per(k1Rows), "rows"),
        "knn.k2_rows" -> (per(k2Rows), "rows"),
        "knn.k1_useful_ratio" -> (k2Rows.toDouble / math.max(1L, k1Rows), "fraction"),
        "spark.analysis_ms" -> (per(phaseMs("analysis")), "ms"),
        "spark.optimization_ms" -> (per(phaseMs("optimization")), "ms"),
        "spark.planning_ms" -> (per(phaseMs("planning")), "ms"),
        "spark.jobs" -> (per(s.jobs), "count"),
        "spark.stages" -> (per(s.stages), "count"),
        "spark.tasks" -> (per(s.tasks), "count"),
        "spark.executor_run_ms" -> (per(s.runMs), "ms"),
        "spark.executor_cpu_ms" -> (per(s.cpuNs / 1e6), "ms"),
        "spark.gc_ms" -> (per(s.gcMs), "ms"),
        "spark.task_wait_ms" -> (per(s.waitMs), "ms"),
        "spark.failed_tasks" -> (s.failedTasks.toDouble, "count"),
        "spark.shuffle_write_bytes" -> (per(s.shuffleWrite), "bytes"),
        "spark.shuffle_read_bytes" -> (per(s.shuffleRead), "bytes"),
        "spark.spill_bytes" -> (per(s.spill), "bytes"),
        "spark.max_task_share" -> (s.maxShareSum / math.max(1L, s.sharedStages), "fraction"),
        "trace.overhead_ms" -> (overheadMs, "ms"),
      )
      tracer.write(Paths.get(spec.str("spans")))
    }

    mark("layer_probes")
    val probePost = graft.Bench.throttleProbe("post", cores)
    mark("probe_post")
    spark.stop()

    val e2e = Seq(
      // Session start, the median cold build, and the first search.
      "setup_s" -> (sessionSec + median(buildSec.toSeq) + firstSearchSec, "s"),
      "search_p50_ms" -> (median(searchMs.toSeq), "ms"),
      "queries_per_s" -> (queriesAnswered / (searchMs.sum / 1e3), "1/s"),
      "recall_at_10" -> (recallSum / math.max(1L, recallN), "fraction"),
      "append_vectors_per_s" -> (appendPerRound * appendDirs.size / (lifecycleMs("append") / 1e3), "vectors/s"),
      "maintenance_s" -> ((compactMs + vacuumMs) / 1e3, "s"),
      "index_bytes_per_vector" -> (indexBytes.toDouble / vectorsAtLoopEnd, "bytes"),
      "peak_rss_mb" -> (rssHwmMb(), "MB"),
    )
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    def obj(kv: Seq[(String, (Double, String))]): String =
      kv.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    def probe(p: (Double, Double, Double, Double)): String =
      s"""{"single_s":${p._1},"multi_s":${p._2},"mem_multi_s":${p._3},"io_s":${p._4}}"""
    def esc(s: String): String = s.replaceAll("[\\\\\"\\p{Cntrl}]", " ")
    val json =
      s"""{"attempted":$attempted,"failed":$failed,"searches":${searchMs.size},""" +
        s""""build_s":[${buildSec.mkString(",")}],"search_ms":[${searchMs.mkString(",")}],""" +
        lifecycleMs.map { case (k, v) => s""""$k":$v""" }.mkString(""""lifecycle_ms":{""", ",", "},") +
        s""""end_to_end":${obj(e2e)},"per_layer":${obj(layer.toSeq)},""" +
        timeline.map { case (k, v) => s""""$k":$v""" }.mkString(""""timeline":{""", ",", "},") +
        s""""host_probe":{"pre":${probe(probePre)},"post":${probe(probePost)}},""" +
        s""""cores":$cores,"max_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
        s""""errors":[${errors.map(e => "\"" + esc(e) + "\"").mkString(",")}]}"""
    Files.write(Paths.get(spec.str("out")), json.getBytes("UTF-8"))
  }
}
