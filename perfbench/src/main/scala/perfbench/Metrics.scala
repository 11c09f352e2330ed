package perfbench

import java.nio.file.{Files, Paths}

import Harness.median

/** Turns the recorded passes into the benchmark's metrics. Per-pass
  * figures are reduced to their median over the timed passes: this VM
  * adds one-sided scheduler stalls, which a median resists.
  */
final case class Metrics(workload: String, passes: Seq[PassRec], reference: Map[String, Digest],
    sessionS: Seq[Double], warmS: Seq[Double], cpus: Int, data: String, extra: Map[String, Any]) {

  private val calls: Seq[CallRec] = passes.flatMap(_.calls)
  private def callMedian(name: String): Double =
    median(calls.filter(_.call.name == name).map(_.wallS))
  private def perPass(f: PassRec => Double): Double = median(passes.map(f))
  private def rows(name: String): Long = reference.get(name).map(_.rows).getOrElse(0L)
  private def num(k: String): Double = extra.getOrElse(k, 0).toString.toDouble
  private val triggers: Seq[TriggerRec] = passes.flatMap(_.triggers)
  private val triggerS: Seq[Double] = triggers.map(_.triggerMs / 1000.0).sorted

  /** Highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples); the maximum when there are too few.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 0.0, 0)
    else if (s.size < 11) (s.last, 100.0, s.size)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }

  def endToEnd: Map[String, Double] = Map(
    "pass_s" -> perPass(_.wallS),
    "setup_s" -> median(sessionS.zip(warmS).map { case (a, b) => a + b }))

  def detail: Map[String, Any] = {
    val (tv, tp, tn) = tail(triggerS)
    Map(
      "ingest_s" -> callMedian("a12_sink_dwd"),
      "stream_ingest_s" -> callMedian("s1_stream_pipeline"),
      "dedup_s" -> callMedian("c15_dedup_clusters"),
      "trigger_tail_s" -> tv, "trigger_tail_pct" -> tp, "trigger_samples" -> tn,
      "pass_raw_s" -> passes.map(_.wallS),
      "setup_raw_s" -> sessionS.zip(warmS).map { case (a, b) => a + b },
      "session_raw_s" -> sessionS, "warm_raw_s" -> warmS,
      "peak_heap_raw_mb" -> passes.map(_.heapMb))
  }

  // ---- traced run: spans and per-layer figures

  /** Length of the union of `ivs`, clipped to [lo, hi], in ms. */
  private def unionMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    for ((s0, e0) <- ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.sortBy(_._1)
         if e0 > s0) {
      val s = math.max(s0, end)
      if (e0 > s) { covered += e0 - s; end = e0 }
    }
    covered
  }

  private def gapS(c: CallRec): Double =
    math.max(0.0, c.wallS - unionMs(c.jobs.map(j => (j.startMs, j.endMs)), c.startMs, c.endMs) / 1000.0)

  private def stageSum(p: PassRec)(f: StageRec => Double): Double =
    p.calls.flatMap(_.stages).map(f).sum

  private def skew(p: PassRec): Double = {
    val ratios = p.calls.flatMap(_.stages).filter(s => s.tasks >= cpus && s.medianTaskMs > 0)
      .map(s => s.maxTaskMs.toDouble / s.medianTaskMs)
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  private def streamCalls(p: PassRec): Seq[CallRec] = p.calls.filter(_.call.layer == "stream")

  /** Streaming query start latency: call start to onQueryStarted. */
  private def startS(p: PassRec): Double =
    median(streamCalls(p).flatMap(c => c.starts.map(s => (s - c.startMs) / 1000.0)))

  private def inputFiles: Long = {
    val w = Files.walk(Paths.get(data))
    try w.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)).count()
    finally w.close()
  }

  def perLayer: Map[String, Double] = {
    val byCall = Workloads.calls.values.flatten.map(c => c.metric -> callMedian(c.name)).toMap
    val scanned = Workloads.scanned(workload)
    val (tv, _, _) = tail(triggerS)
    def tr(f: TriggerRec => Double): Double = median(triggers.map(f))
    byCall ++ Map(
      "scan.events_s" -> (if (scanned == "events") perPass(_.scanS) else 0.0),
      "scan.documents_s" -> (if (scanned == "documents") perPass(_.scanS) else 0.0),
      "scan.input_bytes" -> perPass(p => stageSum(p)(_.inputBytes.toDouble)),
      "scan.input_files" -> inputFiles.toDouble,
      "ingest.rows_in" -> num("ingest.rows_in"),
      "ingest.rows_valid" -> rows("a12_sink_dwd").toDouble,
      "ingest.valid_ratio" -> (if (num("ingest.rows_in") == 0) 0.0
        else rows("a12_sink_dwd") / num("ingest.rows_in")),
      "ext.rewritten_exprs" -> num("ext.rewritten_exprs"),
      "sink.bytes_written" -> perPass(p => stageSum(p)(_.outputBytes.toDouble)),
      "sink.records_written" -> perPass(p => stageSum(p)(_.outputRecords.toDouble)),
      "driver.plan_s" -> perPass(_.calls.map(_.planMs).sum / 1000.0),
      "driver.gap_s" -> perPass(_.calls.map(gapS).sum),
      "spark.jobs" -> perPass(_.calls.map(_.jobs.size).sum.toDouble),
      "spark.stages" -> perPass(_.calls.map(_.stages.size).sum.toDouble),
      "spark.tasks" -> perPass(p => stageSum(p)(_.tasks.toDouble)),
      "exec.busy_s" -> perPass(p => stageSum(p)(_.runMs / 1000.0)),
      "exec.cpu_s" -> perPass(p => stageSum(p)(_.cpuNs / 1e9)),
      "exec.gc_s" -> perPass(p => stageSum(p)(_.gcMs / 1000.0)),
      "exec.busy_share" -> perPass(p => stageSum(p)(_.runMs / 1000.0) / (p.wallS * cpus)),
      "exec.task_skew" -> perPass(skew),
      "shuffle.read_bytes" -> perPass(p => stageSum(p)(_.shuffleReadBytes.toDouble)),
      "shuffle.write_bytes" -> perPass(p => stageSum(p)(_.shuffleWriteBytes.toDouble)),
      "spill.bytes" -> perPass(p => stageSum(p)(_.spillBytes.toDouble)),
      "stream.start_s" -> perPass(startS),
      "stream.triggers" -> perPass(_.triggers.size.toDouble),
      "stream.batch_body_s" -> tr(_.addBatchMs / 1000.0),
      "stream.trigger_overhead_s" -> tr(t => (t.triggerMs - t.addBatchMs) / 1000.0),
      "stream.commit_s" -> tr(_.commitMs / 1000.0),
      "stream.rows_per_trigger" -> tr(_.inputRows.toDouble),
      "stream.state_rows" -> (if (triggers.isEmpty) 0.0 else triggers.map(_.stateRows).max.toDouble),
      "stream.state_bytes" -> (if (triggers.isEmpty) 0.0 else triggers.map(_.stateBytes).max.toDouble),
      "stream.trigger_p50_s" -> median(triggerS),
      "stream.trigger_tail_s" -> tv,
      "pairs.out" -> num("pairs.out"),
      "cc.graph_jobs" -> median(calls.filter(_.call.name == "cc_graph").map(_.jobs.size.toDouble)),
      "cc.components" -> num("cc.components"),
      "setup.session_s" -> median(sessionS),
      "setup.warm_pass_s" -> median(warmS),
      "trace.pass_s" -> perPass(_.wallS))
  }

  /** Per layer, medians over passes: wall time of its calls, the part
    * covered by Spark jobs, and the self time left (driver-side work
    * between and around jobs).
    */
  def layerSelfTimes: Map[String, Map[String, Double]] =
    calls.map(_.call.layer).distinct.map { layer =>
      def sum(p: PassRec)(f: CallRec => Double) = p.calls.filter(_.call.layer == layer).map(f).sum
      layer -> Map(
        "wall_s" -> perPass(sum(_)(_.wallS)),
        "jobs_s" -> perPass(sum(_)(c => c.wallS - gapS(c))),
        "self_s" -> perPass(sum(_)(gapS)),
        "share_of_pass" -> perPass(p => sum(p)(_.wallS) / p.wallS))
    }.toMap

  /** run → pass → call → job/trigger spans, in ms since the epoch. */
  def spans: Map[String, Any] = Map(
    "workload" -> workload,
    "passes" -> passes.zipWithIndex.map { case (p, i) =>
      Map("pass" -> (i + 1), "wall_s" -> p.wallS, "calls" -> p.calls.map { c =>
        Map("call" -> c.call.name, "layer" -> c.call.layer, "start_ms" -> c.startMs,
          "end_ms" -> c.endMs, "self_s" -> gapS(c), "plan_ms" -> c.planMs,
          "jobs" -> c.jobs.map(j => Map("job" -> j.jobId, "span" -> j.span,
            "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
          "stages" -> c.stages.map(s => Map("stage" -> s.stageId, "tasks" -> s.tasks,
            "run_ms" -> s.runMs, "shuffle_read" -> s.shuffleReadBytes,
            "shuffle_write" -> s.shuffleWriteBytes, "max_task_ms" -> s.maxTaskMs,
            "median_task_ms" -> s.medianTaskMs)),
          "triggers" -> c.triggers.map(t => Map("start_ms" -> t.startMs,
            "trigger_ms" -> t.triggerMs, "add_batch_ms" -> t.addBatchMs)))
      })
    })
}
