package perfbench

import scala.collection.mutable

/** One timed query execution: its pass (0 is the first pass), the query,
  * and the epoch-ms bounds of the whole call and of its build step.
  */
final case class Exec(pass: Int, query: String, start: Double, buildEnd: Double,
                      end: Double, ok: Boolean, error: String)

/** Per-layer metrics of a traced run, from the recorder's jobs, stages,
  * SQL executions and micro-batches, restricted to the warm traced
  * passes (pass 1 on). Counts, times and volumes are per warm pass; ratios,
  * percentiles and per-batch figures are over the same passes.
  */
object Layers {

  /** `pb|<pass>|<query>|<phase>` → (pass, query, phase). */
  def group(g: String): Option[(Int, String, String)] = g.split('|') match {
    case Array("pb", p, q, ph) if p.nonEmpty && p.forall(_.isDigit) => Some((p.toInt, q, ph))
    case _ => None
  }

  /** The query call a job belongs to: by its job group, or, for jobs a
    * stream starts on its own thread under the stream's group, by the
    * query whose time window holds the job's start.
    */
  def owner(j: JobAcc, execs: Seq[Exec]): Option[(Int, String, String)] =
    group(j.group).orElse(execs.find(e => j.start >= e.start && j.start <= e.end).map(e =>
      (e.pass, e.query, if (j.start < e.buildEnd) "build" else "action")))

  private val MB = 1024.0 * 1024.0

  def compute(r: Recorder, execs: Seq[Exec], lastPass: Int, cores: Int,
              hashes: Map[String, String], kernels: Seq[Kernels.Result])
      : mutable.LinkedHashMap[String, (Double, String)] = r.synchronized {
    val warm = execs.filter(e => e.pass >= 1 && e.pass <= lastPass)
    val n = math.max(1, lastPass).toDouble
    def inWarm(t: Double) = warm.exists(e => t >= e.start && t <= e.end)

    val jobs = r.jobs.values.toSeq.flatMap(j => owner(j, execs).map(g => (j, g)))
      .filter { case (_, (p, _, _)) => p >= 1 && p <= lastPass }
    val jobIds = jobs.map(_._1.jobId).toSet
    // Stages a job listed but skipped (their output was reused) never ran.
    val stages = r.stages.values.toSeq.filter(s => jobIds(s.jobId) && !s.submitted.isNaN)
    val sqls = r.sqlExecs.toSeq.filter(s => inWarm(s.start))
    val batches = r.batches.toSeq.filter(b => inWarm(b.start))

    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit =
      out(k) = (if (v.isNaN) 0.0 else v, unit)

    // ops: the query builders, before the action starts.
    put("ops.build_s", warm.map(e => e.buildEnd - e.start).sum / 1000 / n, "s")
    put("ops.build_jobs", jobs.count(_._2._3 == "build") / n, "count")
    val driverOnly = warm.map { e =>
      val iv = jobs.filter(j => j._2._1 == e.pass && j._2._2 == e.query)
        .map(j => (math.max(j._1.start, e.start), math.min(j._1.end, e.end)))
      (e.end - e.start) - Stats.unionLength(iv)
    }
    put("ops.driver_only_s", driverOnly.sum / 1000 / n, "s")

    // catalyst: the planning phases of every SQL execution.
    def phase(p: String) = sqls.map(s => s.phases.get(p).map(x => x._2 - x._1).getOrElse(0.0)).sum / 1000 / n
    put("catalyst.analysis_s", phase("analysis"), "s")
    put("catalyst.optimization_s", phase("optimization"), "s")
    put("catalyst.planning_s", phase("planning"), "s")
    put("catalyst.executions", sqls.size / n, "count")

    // exec: jobs, stages and tasks.
    val tasks = stages.map(_.taskDurMs.size).sum
    val runS = stages.map(_.runMs).sum / 1000
    put("exec.jobs", jobs.size / n, "count")
    put("exec.stages", stages.size / n, "count")
    put("exec.tasks", tasks / n, "count")
    put("exec.task_run_s", runS / n, "s")
    put("exec.task_cpu_s", stages.map(_.cpuNs).sum / 1e9 / n, "s")
    put("exec.sched_delay_s", stages.map(_.schedMs).sum / 1000 / n, "s")
    put("exec.gc_s", stages.map(_.gcMs).sum / 1000 / n, "s")
    val wallS = warm.map(e => e.end - e.start).sum / 1000
    put("exec.core_util", runS / (wallS * cores), "ratio")
    val skews = stages.filter(_.taskDurMs.size >= 2).map { s =>
      s.taskDurMs.max / math.max(1.0, Stats.median(s.taskDurMs.toSeq)) }
    put("exec.stage_skew_p90", Stats.quantile(skews, 0.9), "ratio")
    put("exec.shuffle_write_mb", stages.map(_.shuffleWrite).sum / MB / n, "MB")
    put("exec.shuffle_read_mb", stages.map(_.shuffleRead).sum / MB / n, "MB")
    put("exec.spill_mb", stages.map(_.spill).sum / MB / n, "MB")
    put("exec.peak_exec_mem_mb", (0.0 +: stages.map(_.peakExecMem)).max / MB, "MB")
    put("exec.failed_tasks", stages.map(_.failedTasks).sum / n, "count")
    put("exec.io_write_mb", stages.map(_.bytesWritten).sum / MB / n, "MB")

    // sources: scan volume, and rows scanned per result row.
    val rowsRead = stages.map(_.recordsRead).sum
    val rowsOut = warm.filter(_.ok).map(e =>
      hashes.get(e.query).filterNot(_.startsWith("error")).map(ResultHash.rows).getOrElse(0L)).sum
    put("sources.bytes_read_mb", stages.map(_.bytesRead).sum / MB / n, "MB")
    put("sources.rows_read", rowsRead / n, "count")
    put("sources.rows_read_per_row_out", rowsRead / math.max(1L, rowsOut), "ratio")

    // expr: the kernel micro-workload.
    kernels.foreach(k => put(s"expr.${k.name}_ns", k.nsPerItem, "ns"))

    // streaming: micro-batches of the bounded replays.
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0.0))
    put("streaming.batches", batches.size / n, "count")
    put("streaming.useful_batch_ratio",
      batches.count(_.inputRows > 0).toDouble / math.max(1, batches.size), "ratio")
    put("streaming.input_rows", batches.map(_.inputRows).sum / n, "count")
    put("streaming.trigger_ms", Stats.median(dur("triggerExecution")), "ms")
    put("streaming.add_batch_ms", Stats.mean(dur("addBatch")), "ms")
    put("streaming.query_planning_ms", Stats.mean(dur("queryPlanning")), "ms")
    put("streaming.wal_commit_ms", Stats.mean(dur("walCommit")), "ms")
    put("streaming.commit_offsets_ms", Stats.mean(dur("commitOffsets")), "ms")
    put("streaming.latest_offset_ms", Stats.mean(dur("latestOffset")), "ms")
    put("streaming.state_commit_ms", Stats.mean(batches.map(_.stateCommitMs)), "ms")
    put("streaming.state_rows", Stats.mean(batches.map(_.stateRows.toDouble)), "count")
    put("streaming.state_mem_mb", (0.0 +: batches.map(_.stateMemBytes.toDouble)).max / MB, "MB")
    out
  }
}

/** Writes the span tree of a traced run as JSON lines:
  * run → pass → query → {build, action} → {sql_execution → phases, job →
  * stage}, and micro-batches with their phase durations under the query
  * whose time window holds them.
  */
object Spans {

  def write(path: String, r: Recorder, execs: Seq[Exec],
            passes: Seq[(Int, Double, Double)], runId: String): Int = r.synchronized {
    val spans = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, name: String, s: Double, e: Double,
            attrs: Map[String, Any] = Map.empty): Int = {
      val id = spans.size
      spans += Span(id, parent, name, s, e, attrs)
      id
    }
    val runSpan = add(-1, "run", passes.map(_._2).min, passes.map(_._3).max)
    val passIds = passes.map { case (p, s, e) => p -> add(runSpan, "pass", s, e, Map("pass" -> p)) }.toMap
    // query → (build id, action id), keyed by (pass, query)
    val parts = execs.map { e =>
      val q = add(passIds(e.pass), "query", e.start, e.end,
        Map("query" -> e.query, "pass" -> e.pass, "ok" -> e.ok))
      (e.pass, e.query) -> (q, add(q, "build", e.start, e.buildEnd), add(q, "action", e.buildEnd, e.end))
    }.toMap
    def holder(t: Double): Option[Int] = execs.find(e => t >= e.start && t <= e.end).map { e =>
      val (_, b, a) = parts((e.pass, e.query))
      if (t < e.buildEnd) b else a
    }
    r.sqlExecs.foreach { x =>
      holder(x.start).foreach { p =>
        val id = add(p, "sql_execution", x.start, x.end, Map("failed" -> x.failed))
        x.phases.foreach { case (k, (s, e)) => add(id, k, s, e) }
      }
    }
    val stagesByJob = r.stages.values.groupBy(_.jobId)
    r.jobs.values.foreach { j =>
      Layers.owner(j, execs).flatMap { case (p, q, ph) =>
        parts.get((p, q)).map { case (_, b, a) => if (ph == "build") b else a }
      }.foreach { parent =>
        val id = add(parent, "job", j.start, j.end, Map("job" -> j.jobId))
        stagesByJob.getOrElse(j.jobId, Nil).foreach { s =>
          add(id, "stage", s.submitted, s.completed,
            Map("stage" -> s.stageId, "attempt" -> s.attempt, "tasks" -> s.taskDurMs.size))
        }
      }
    }
    r.batches.foreach { b =>
      execs.find(e => b.start >= e.start && b.start <= e.end).foreach { e =>
        val trig = b.durations.getOrElse("triggerExecution", 0.0)
        val id = add(parts((e.pass, e.query))._1, "microbatch", b.start, b.start + trig,
          Map("input_rows" -> b.inputRows))
        b.durations.foreach { case (k, d) =>
          if (k != "triggerExecution") add(id, k, b.start, b.start + d, Map("duration_only" -> true))
        }
      }
    }
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Stats.json(mutable.LinkedHashMap[String, Any](
        "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs))
    } finally w.close()
    spans.size
  }
}
