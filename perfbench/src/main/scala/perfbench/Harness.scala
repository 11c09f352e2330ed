package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkEntry
import graft.functions.ExtractNumeric
import graft.ops.Tables

/** One timed call: wall time, outcome, and (traced runs) its spans. */
final case class CallRec(call: Call, startMs: Long, endMs: Long, wallS: Double,
    outcome: Either[String, Digest], jobs: Seq[JobRec] = Nil, stages: Seq[StageRec] = Nil,
    planMs: Long = 0L, starts: Seq[Long] = Nil, triggers: Seq[TriggerRec] = Nil)

final case class PassRec(wallS: Double, heapMb: Double, calls: Seq[CallRec],
    triggers: Seq[TriggerRec], scanS: Double = 0.0)

/** The benchmark harness: builds the judged session, runs a workload's
  * call list in closed-loop passes, times every call from outside,
  * checks every result, and writes metrics and verdicts as JSON.
  *
  * Arguments (all `--key value`): workload, data (generated tables),
  * work (scratch for this run), seconds (measurement window), trace
  * (0|1), out (result JSON), budget (hard wall-clock limit for the
  * whole process, s) and optionally corrupt (a call whose timed
  * results are altered, to exercise the checks).
  */
object Harness extends AdaptiveSparkPlanHelper {
  val SpanKey = "perfbench.span"
  /** Timed passes per run at least, whatever --seconds says. */
  val MinPasses = 4
  val SetupReps = 3
  /** Per-call deadline, s (less when the run's budget is short). */
  val DeadlineS = 60.0
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val t00 = System.nanoTime()
  private def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val data = Paths.get(opt("data")).toAbsolutePath.toString
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val budgetS = opt.getOrElse("budget", "150").toDouble
    val corrupt = opt.get("corrupt")
    val cpus = Runtime.getRuntime.availableProcessors
    val calls = Workloads.calls(workload)
    redirectScratch(s"$work/scratch")

    def budgetLeft: Double = budgetS - since(t00)
    def deadline: Double = math.max(1.0, math.min(DeadlineS, budgetLeft - 5))
    val failures = ArrayBuffer.empty[(String, String)]
    val checks = ArrayBuffer.empty[Map[String, Any]]
    def check(name: String, ok: Boolean, detail: String, implicated: Seq[String]): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail, "calls" -> implicated)

    val oracleSql = SparkEntry.oracleSql
    val dumps = s"$work/oracle"
    // ---- set-up: session build + warm pass, repeated. The first
    // repetition also starts the SparkContext in a cold JVM; later ones
    // build a new session on it. Each reads a fresh hard-link clone of
    // the inputs, so per-dataset memos (Tables.memoDir standing
    // indices) are rebuilt every time.
    var spark: SparkSession = null
    val streams = new StreamRecorder
    val reference = scala.collection.mutable.LinkedHashMap.empty[String, Digest]
    val sessionS = ArrayBuffer.empty[Double]
    val warmS = ArrayBuffer.empty[Double]
    var d = data
    for (r <- 1 to SetupReps) {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      d = s"$work/data_r$r"
      Tables.linkTree(data, d)
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      spark.streams.addListener(streams)
      sessionS += since(t0)
      val t1 = System.nanoTime()
      for (c <- calls) {
        // the first set-up writes each result that has an oracle to
        // parquet, and takes the reference digest from the written files
        val res = if (r == 1 && oracleSql.contains(c.name)) dumpCall(spark, c, d, dumps, deadline)
          else runCall(spark, c, d, s"warm$r.${c.name}", None, deadline)
        res match {
          case Right(dg) if r == 1 => reference(c.name) = dg
          case Right(dg) if !reference.get(c.name).contains(dg) =>
            check(s"warm_repeat.${c.name}", ok = false,
              s"set-up $r digest $dg != first ${reference.get(c.name)}", Seq(c.name))
          case Left(err) => failures += s"warm$r.${c.name}" -> err
          case _ =>
        }
      }
      warmS += since(t1)
      PerfbenchBus.drain(spark.sparkContext)
      streams.drain()
    }
    val sc = spark.sparkContext

    // ---- timed passes (listeners for the traced run only)
    val jobsRec = new JobRecorder(SpanKey)
    val plans = new PlanRecorder
    if (trace) {
      sc.addSparkListener(jobsRec)
      spark.listenerManager.register(plans)
    }
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    def timedPass(p: Int): PassRec = {
      heapPools.foreach(_.resetPeakUsage())
      val tp = System.nanoTime()
      val recs = calls.map { c =>
        val id = s"p$p.${c.name}"
        sc.setLocalProperty(SpanKey, id)
        val s0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val res = runCall(spark, c, d, id, corrupt.filter(_ == c.name), deadline)
        val rec = CallRec(c, s0, System.currentTimeMillis(), since(t0), res)
        sc.setLocalProperty(SpanKey, null)
        if (trace) {
          PerfbenchBus.drain(sc)
          val (js, ss) = jobsRec.drain()
          val (st, tr) = streams.drain()
          rec.copy(jobs = js, stages = ss, planMs = plans.drain(), starts = st, triggers = tr)
        } else rec
      }
      val wall = since(tp)
      val heap = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      PerfbenchBus.drain(sc)
      val trig = if (trace) recs.flatMap(_.triggers) else streams.drain()._2
      // traced runs also time the main table's reader alone, outside the pass
      val scan = if (!trace) 0.0 else {
        val t0 = System.nanoTime()
        runCall(spark, Call("scan", "scan", (s, dd) => Tables.t(s, dd, Workloads.scanned(workload))),
          d, s"p$p.scan", None, deadline)
        PerfbenchBus.drain(sc); jobsRec.drain(); plans.drain()
        since(t0)
      }
      for (r <- recs; err <- Checks.verdict(r.outcome, reference.get(r.call.name)))
        failures += s"p$p.${r.call.name}" -> err
      PassRec(wall, heap, recs, trig, scan)
    }
    val passes = ArrayBuffer.empty[PassRec]
    val tMeasure = System.nanoTime()
    var budgetShort = false
    while (!budgetShort && (passes.size < MinPasses || since(tMeasure) < seconds)) {
      // keep room for one more pass and the checks
      budgetShort = passes.nonEmpty && budgetLeft < 2 * passes.last.wallS + 25
      if (budgetShort) {
        failures += "passes" -> f"stopped after ${passes.size} passes: ${budgetLeft}%.0f s of budget left"
        if (passes.size < MinPasses) check("min_passes", ok = false, s"only ${passes.size} passes fit", Nil)
      } else passes += timedPass(passes.size + 1)
    }

    // ---- untimed checks on the reference results
    val tChecks = System.nanoTime()
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    structuralChecks(spark, workload, d, reference, check _, extra)
    val calib = if (trace) 0.0 else calibration(spark)
    if (trace) extra ++= extractNumericCount(spark, workload, d)
    val perCall = calls.map { c =>
      val rs = passes.toSeq.flatMap(_.calls).filter(_.call.name == c.name)
      c.name -> Map(
        "timed" -> rs.size,
        "failed" -> rs.count(r => Checks.verdict(r.outcome, reference.get(c.name)).isDefined),
        "median_s" -> median(rs.map(_.wallS)),
        "raw_s" -> rs.map(_.wallS),
        "reference" -> reference.get(c.name).map(_.toString).orNull)
    }.toMap
    val m = Metrics(workload, passes.toSeq, reference.toMap, sessionS.toSeq, warmS.toSeq,
      cpus, data, extra.toMap)
    val result = Map(
      "workload" -> workload, "trace" -> trace, "passes" -> passes.size,
      "metrics" -> (if (trace) m.perLayer else m.endToEnd),
      "detail" -> (m.detail ++ Map("calib_s" -> calib, "cpus" -> cpus,
        "checks_s" -> since(tChecks), "harness_s" -> since(t00))),
      "layers" -> (if (trace) m.layerSelfTimes else Map.empty),
      "calls" -> perCall,
      "checks" -> checks.toSeq,
      "failures" -> failures.map { case (k, v) => Map("call" -> k, "error" -> v) }.toSeq,
      "oracle" -> Map("dir" -> dumps,
        "queries" -> calls.map(_.name).filter(oracleSql.contains).map(n => n -> oracleSql(n)).toMap))
    if (trace) json.writerWithDefaultPrettyPrinter()
      .writeValue(Paths.get(s"$work/spans.json").toFile, m.spans)
    json.writerWithDefaultPrettyPrinter().writeValue(Paths.get(opt("out")).toFile, result)
    spark.stop()
  }

  /** Bench's judged session: the graft extensions, UTC, periodic GC,
    * local[cpus]; Spark's own scratch stays inside `work`.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Materialize one call through the digest sink under a deadline. On
    * expiry every job is cancelled and every active stream stopped (the
    * program's drains block in an unbounded awaitTermination).
    */
  def runCall(spark: SparkSession, c: Call, d: String, id: String,
      corrupt: Option[String], deadlineS: Double): Either[String, Digest] =
    Checks.withDeadline(deadlineS)(() => {
      spark.sparkContext.cancelAllJobs()
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    }) {
      val df = c.run(spark, d)
      // fault injection: one duplicated row changes the digest
      val out = if (corrupt.isDefined) df.unionAll(df.limit(1)) else df
      out.write.format(classOf[DigestSink].getName).mode("overwrite").option("id", id).save()
      DigestSink.take(id).getOrElse(throw new IllegalStateException("sink committed no digest"))
    }

  /** Point the program's hard-coded scratch root (`Tables.scratch`, a
    * static final field of the Tables module) at this run's work
    * directory, so the benchmark writes only inside its checkout. Runs
    * before any program code reads the field.
    */
  private def redirectScratch(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val f = Tables.getClass.getDeclaredField("scratch")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), dir)
    require(Tables.scratch == dir, s"scratch redirect failed: ${Tables.scratch}")
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select(df("a_id").cast("long"), df("b_id").cast("long")).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Checks that relate results to each other or to the harness's own
    * answers. All run on the reference results (every timed result
    * must equal its reference digest).
    */
  private def structuralChecks(spark: SparkSession, workload: String, d: String,
      ref: scala.collection.Map[String, Digest],
      check: (String, Boolean, String, Seq[String]) => Unit,
      extra: scala.collection.mutable.Map[String, Any]): Unit = {
    def rows(n: String): Long = ref.get(n).map(_.rows).getOrElse(-1L)
    val manifest = json.readTree(Paths.get(d, "manifest.json").toFile)
    def same(name: String, a: String, b: String): Unit =
      check(name, ref.contains(a) && ref.get(a) == ref.get(b), s"$a=${ref.get(a)} $b=${ref.get(b)}", Seq(a, b))
    workload match {
      case "ingest_features" =>
        val valid = manifest.path("properties").path("valid_rows").asLong(-1L)
        extra("ingest.rows_in") = manifest.path("tables").path("events").path("rows").asLong(-1L)
        // the dwd sink keeps exactly the rows the generator left valid
        check("a12_rows_eq_generated_valid", rows("a12_sink_dwd") == valid,
          s"a12=${rows("a12_sink_dwd")} generated valid=$valid", Seq("a12_sink_dwd"))
        same("a12_eq_s1", "a12_sink_dwd", "s1_stream_pipeline")
      case "corpus_dedup" =>
        // one chain plus the cliques: exactly that many components
        val labels = Checks.components(pairs(spark.read.parquet(s"$d/cc_graph.parquet")))
        val components = labels.values.toSet.size
        val want = manifest.path("properties").path("cc_components").asInt(-1)
        val expected = Checks.clusterDigest(labels)
        check("cc_graph_components", ref.get("cc_graph").contains(expected) && components == want,
          s"union-find: $components components (generated $want), digest $expected; " +
            s"clustersOf ${ref.get("cc_graph")}", Seq("cc_graph"))
        extra("cc.components") = components
        // c15's labels against a union-find over c2's pairs (c2 is c15's
        // own pair stage, run here untimed)
        val c2 = pairs(SparkEntry.queries("c2_dedup_minhash")(spark, d))
        extra("pairs.out") = c2.size
        val fromC2 = Checks.clusterDigest(Checks.components(c2))
        check("c15_eq_union_find_of_c2", ref.get("c15_dedup_clusters").contains(fromC2),
          s"union-find over ${c2.size} c2 pairs $fromC2; c15 ${ref.get("c15_dedup_clusters")}",
          Seq("c15_dedup_clusters"))
      case _ =>
    }
  }

  /** Materialize one call to parquet (for the DuckDB oracle comparison)
    * and digest the written files: the call's reference result.
    */
  private def dumpCall(spark: SparkSession, c: Call, d: String, dir: String,
      deadlineS: Double): Either[String, Digest] =
    Checks.withDeadline(deadlineS)(() => spark.sparkContext.cancelAllJobs()) {
      val out = s"$dir/${c.name}"
      c.run(spark, d).write.mode("overwrite").parquet(out)
      val id = s"dump.${c.name}"
      spark.read.parquet(out).write.format(classOf[DigestSink].getName)
        .mode("overwrite").option("id", id).save()
      DigestSink.take(id).getOrElse(throw new IllegalStateException("sink committed no digest"))
    }

  /** Bench's fixed calibration probe (data-independent shuffle + agg +
    * sort through the noop sink): an ungated box-speed diagnostic.
    */
  private def calibration(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(8L * 1000 * 1000)
      .selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
      .orderBy("k")
      .write.mode("overwrite").format("noop").save()
    since(t0)
  }

  /** ExtractNumeric nodes in the physical plans of a6 and a14 — the
    * GraftExtensions rewrite at work.
    */
  private def extractNumericCount(spark: SparkSession, workload: String, d: String): Map[String, Any] = {
    val names = Seq("a6_regexp_extract", "a14_pipeline_e2e")
    if (workload != "ingest_features") return Map("ext.rewritten_exprs" -> 0)
    def count(p: SparkPlan): Int =
      collectWithSubqueries(p) { case n =>
        n.expressions.map(_.collect { case e: ExtractNumeric => e }.size).sum }.sum
    Map("ext.rewritten_exprs" -> names.map(n => count(SparkEntry.queries(n)(spark, d).queryExecution.executedPlan)).sum)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
