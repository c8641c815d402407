package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** JVM side of the benchmark; `perfbench/run.py` starts it.
  *
  * `--mode prime` only sets up, so that run.py can archive the classes
  * set-up loads; `--mode pin` is described at [[pin]].
  * `--mode run` drives the workload: a closed loop with one client
  * and one query at a time, through the public driver contract
  * (`SparkEntry.queries(name)(spark, dir)` and a noop write). Pass 0 runs
  * every query on fresh plans; an untimed check pass hashes every result;
  * then `--passes` warm passes are measured. The seed
  * only permutes the query order of each pass.
  *
  * With `--trace 1` the run records spans and layer counters through
  * Spark's public listeners, times the `graft.expr` kernels, and after
  * the traced passes removes its listeners and times two untraced
  * passes, which gives the tracing overhead. Lines that start with
  * `PB_` are for run.py; Spark's own logging goes to stderr.
  */
object Main {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JIT, codegen and parquet footer warm-up, the same query graft.Bench
    * warms with, so set-up ends when the session can serve a query.
    */
  def warm(spark: SparkSession, dataDir: String): Unit =
    graft.Tables.lineitem(spark, dataDir).groupBy("l_returnflag").count().collect()

  private def readExpected(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case a if a.length >= 2 => a(0) -> a(1) }.toMap
    finally src.close()
  }

  /** Peak resident memory outside the Java heap: VmHWM less the heap,
    * which run.py fixes in size and pre-touches, so it is resident from
    * the start and the same in every run.
    */
  private def nonheapPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val hwm = try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble * 1024).getOrElse(Double.NaN)
    finally src.close()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    (hwm - heap) / (1024 * 1024)
  }

  def main(args: Array[String]): Unit = {
    val opt = parseArgs(args)
    val cores = opt("cores").toInt
    val dataDir = opt("data")
    val workDir = opt("work")
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val spark = session(cores, s"$workDir/spark-local")
    val sessionMs = uptime.getUptime
    warm(spark, dataDir)
    println(s"PB_READY session_ms=$sessionMs warm_ms=${uptime.getUptime - sessionMs}")
    Console.out.flush()
    if (opt("mode") != "run") {
      try opt("mode") match {
        case "pin" => pin(spark, opt, dataDir)
        case "prime" => ()
      } finally spark.stop()
      return
    }
    val record = try drive(spark, opt, cores, dataDir) finally spark.stop()
    println("PB_RESULT " + Stats.json(record))
    Console.out.flush()
  }

  /** Writes each query's result as parquet, the way graft.Verify dumps it
    * for tools/check_oracle.py, with the oracle SQL beside it, and prints
    * each result hash and kernel checksum for perfbench/pin.py.
    */
  private def pin(spark: SparkSession, opt: Map[String, String], dataDir: String): Unit = {
    val queries = opt("queries").split(",").toSeq
    val dir = opt("pin-dir")
    queries.foreach { q =>
      val fn = SparkEntry.queries(q)
      fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
      println(s"PB_PIN $q\t${ResultHash.of(fn(spark, dataDir))}")
      spark.catalog.clearCache()
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
      graft.Verify.oracleSqlJson(SparkEntry.oracleSql.filter(o => queries.contains(o._1))))
    Kernels.run(spark, dataDir, opt("seed").toLong).foreach(k =>
      println(s"PB_PIN kernel:${k.name}\t${k.checksum}"))
    val problems = ResultHash.selfCheck(spark,
      () => SparkEntry.queries("q01_pricing_summary")(spark, dataDir))
    println(s"PB_SELFCHECK ${if (problems.isEmpty) "ok" else problems.mkString("; ")}")
  }

  private def drive(spark: SparkSession, opt: Map[String, String], cores: Int,
                    dataDir: String): mutable.LinkedHashMap[String, Any] = {
    val queries = opt("queries").split(",").toSeq
    val seed = opt("seed").toLong
    val warmPasses = opt("passes").toInt
    val traced = opt("trace") == "1"
    val expected = readExpected(opt("expected"))
    val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
    val sc = spark.sparkContext
    val rnd = new java.util.Random(seed)
    val heap = new HeapMeter

    val recorder = if (traced) Some(new Recorder) else None
    recorder.foreach(_.register(spark))
    // An untraced run listens only for micro-batch progress, which gives
    // the stream latency figures on the info line.
    val batchTimes = if (traced) None else Some(new Recorder)
    batchTimes.foreach(r => spark.streams.addListener(r.streams))

    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[(Int, Double, Double)]
    val hashes = mutable.LinkedHashMap.empty[String, String]
    def err(e: Throwable) = e.toString.replace('\n', ' ').take(300)

    /** One timed call: the query builder, then a noop write. */
    def runOne(pass: Int, q: String): Exec = {
      val start = Clock.nowMs
      var buildEnd = Double.NaN
      val res = try {
        sc.setJobGroup(s"pb|$pass|$q|build", q, interruptOnCancel = false)
        val df = fns(q)(spark, dataDir)
        buildEnd = Clock.nowMs
        sc.setJobGroup(s"pb|$pass|$q|action", q, interruptOnCancel = false)
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(err(e)) }
      val end = Clock.nowMs
      if (buildEnd.isNaN) buildEnd = end
      sc.clearJobGroup()
      // Same hygiene as graft.Bench: a query's cached blocks must not
      // bill or subsidize the next one.
      spark.catalog.clearCache()
      Exec(pass, q, start, buildEnd, end, res.isEmpty, res.getOrElse(""))
    }

    def order(): Seq[String] = {
      val o = new java.util.ArrayList[String]()
      queries.foreach(o.add)
      java.util.Collections.shuffle(o, rnd)
      o.asScala.toSeq
    }
    def runPass(pass: Int): Unit = {
      val s = Clock.nowMs
      order().foreach(q => execs += runOne(pass, q))
      passes += ((pass, s, Clock.nowMs))
    }
    def passWall(p: Int) = execs.filter(_.pass == p).map(e => e.end - e.start).sum / 1000

    // Pass 0 runs on fresh plans. The check pass then hashes every
    // result, untimed; it also takes the steepest part of the JIT warm-up
    // off the measured passes, which follow.
    runPass(0)
    order().foreach { q =>
      sc.setJobGroup(s"pb|check|$q|check", q, interruptOnCancel = false)
      hashes(q) = try ResultHash.of(fns(q)(spark, dataDir))
        catch { case e: Throwable => "error: " + err(e) }
      sc.clearJobGroup()
      spark.catalog.clearCache()
    }
    val warmStart = Clock.nowMs
    val allocStart = heap.allocated()
    var pass = 1
    while (pass <= warmPasses) {
      runPass(pass)
      pass += 1
    }
    val warmEnd = Clock.nowMs
    val allocWarm = heap.allocated() - allocStart
    heap.close()
    val lastTracedPass = pass - 1

    // Tracing overhead: warm passes again with the listeners removed.
    val untracedPasses = mutable.ArrayBuffer.empty[Double]
    recorder.foreach { r =>
      Thread.sleep(1000)
      spark.streams.removeListener(r.streams)
      spark.listenerManager.unregister(r)
      sc.removeSparkListener(r)
      for (_ <- 1 to 2) {
        runPass(pass)
        untracedPasses += passWall(pass)
        pass += 1
      }
    }
    val mismatches = queries.filterNot(q => expected.get(q).exists(hashes.get(q).contains))
      .map(q => s"$q: got ${hashes.getOrElse(q, "none")}, expected ${expected.getOrElse(q, "none")}")

    val selfCheck = if (traced)
      ResultHash.selfCheck(spark, () => SparkEntry.queries("q01_pricing_summary")(spark, dataDir))
    else Nil
    val kernels = if (traced) Kernels.run(spark, dataDir, seed) else Nil
    val kernelMismatches = kernels.flatMap { k =>
      val key = s"kernel:${k.name}"
      if (expected.get(key).contains(k.checksum.toString)) None
      else Some(s"$key: got ${k.checksum}, expected ${expected.getOrElse(key, "none")}")
    }

    // Give the listener threads time to deliver the last events.
    Thread.sleep(500)

    val timed = execs.toSeq
    val warm = timed.filter(e => e.pass >= 1 && e.pass <= lastTracedPass)
    val warmPassWalls = (1 to lastTracedPass).map(passWall)
    val firstPass = passWall(0)
    val latencies = warm.filter(_.ok).map(e => (e.end - e.start) / 1000)
    val failedExecs = timed.filterNot(_.ok)
    // Attempted: every timed call, every result check, every kernel
    // checksum and, on a traced run, the hash self-check.
    val attempted = timed.size + queries.size + kernels.size + (if (traced) 1 else 0)
    val failed = failedExecs.size + mismatches.size + kernelMismatches.size +
      (if (selfCheck.nonEmpty) 1 else 0)
    val passS = Stats.median(warmPassWalls.toSeq)

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "first_pass_s" -> (firstPass, "s"),
      "pass_s" -> (passS, "s"),
      "query_p50_s" -> (Stats.quantile(latencies, 0.5), "s"),
      "query_p90_s" -> (Stats.quantile(latencies, 0.9), "s"),
      "nonheap_peak_mb" -> (nonheapPeakMb(), "MB"),
      "alloc_mb_per_pass" -> (allocWarm / (1024.0 * 1024.0) / warmPassWalls.size, "MB"))

    val info = mutable.LinkedHashMap[String, Any](
      "warm_passes" -> warmPassWalls.size,
      "pass_walls_s" -> (0 to lastTracedPass).map(passWall),
      "query_samples" -> latencies.size,
      "fail_ratio" -> failed.toDouble / attempted,
      "failures" -> (failedExecs.map(e => s"${e.query}: ${e.error}").distinct ++ mismatches ++ kernelMismatches),
      "hash_self_check" -> (if (traced) (if (selfCheck.isEmpty) "ok" else selfCheck.mkString("; ")) else "not run"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "query_median_s" -> warm.filter(_.ok).groupBy(_.query).map { case (q, es) =>
        q -> Stats.median(es.map(e => (e.end - e.start) / 1000)) })
    batchTimes.foreach { bt =>
      val bs = bt.synchronized(bt.batches.toSeq).filter(b => b.start >= warmStart && b.start <= warmEnd)
      if (bs.nonEmpty) {
        val trig = bs.map(_.durations.getOrElse("triggerExecution", 0.0))
        val streamWall = warm.filter(_.ok).filter(e =>
          bs.exists(b => b.start >= e.start && b.start <= e.end)).map(e => e.end - e.start).sum
        info("microbatch_samples") = bs.size
        info("microbatch_p50_ms") = Stats.quantile(trig, 0.5)
        info("microbatch_p90_ms") = Stats.quantile(trig, 0.9)
        info("stream_rows_per_s") = bs.map(_.inputRows).sum / (streamWall / 1000)
      }
    }

    val layers = recorder.map { r =>
      val out = Layers.compute(r, timed, lastTracedPass, cores, hashes.toMap, kernels)
      out("trace.pass_s") = (passS, "s")
      val untraced = Stats.median(untracedPasses.toSeq)
      out("trace.overhead_pct") = (100 * (passS / untraced - 1), "%")
      info("spans") = Spans.write(opt("spans"), r, timed, passes.toSeq, s"${opt("workload")}-seed$seed")
      out
    }

    val record = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "e2e" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> layers.map(_.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }).getOrElse(Map.empty),
      "info" -> info,
      "hashes" -> hashes)
    record
  }
}
