package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

import graft.{Build, SparkEntry}
import graft.core.Graft
import graft.functions.Kernels

/** One benchmark run in one JVM: set up the session several times, make
  * one untimed warm pass whose outputs are kept for the oracle check,
  * then run closed-loop timed passes over the workload's ops until the
  * time budget is spent. Raw samples go to `<work>/result.json`; the
  * Python runner turns them into metrics and checks the outputs.
  *
  * With `--trace 1` a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener are attached; the listener bus is drained
  * after every op outside the timed window, so each counter belongs to
  * exactly one op. Spans (name, start, end, parent, op) are kept in
  * memory and written to `<work>/spans.json` when the run ends.
  */
object PerfBench {

  /** The ops of each workload: registered query name -> the operator
    * module it lives in (the `operators.<Module>` layer).
    */
  val QueryMix: Seq[(String, String)] = Seq(
    "q_dedup_minhash" -> "Dedup",
    "q_ann_topk" -> "Ann",
    "q_winnow" -> "TextAnalysis", "q_quality_score" -> "TextAnalysis",
    "q_gini" -> "Mining",
    "q_hourly_events" -> "Events", "q_stream_dedup" -> "Events")

  /** The dbt_build workload's two calls, checked against these oracles. */
  val BuildOracles: Seq[String] = Seq("q_monthly_rollup", "q_monthly_stats", "q_fact_join")

  /** Session set-ups per run; setup_s is their median. */
  val SetupReps = 3

  val InputTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String)

  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(
      workload = kv("workload"), seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble, trace = kv.getOrElse("trace", "0") == "1",
      data = kv("data"), work = kv("work"))
  }

  // ---------------------------------------------------------------- probes

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** `wchar` of /proc/self/io: bytes this process handed to write(2). */
  private def writtenBytes(): Long = {
    val f = Paths.get("/proc/self/io")
    if (!Files.exists(f)) 0L
    else Files.readAllLines(f).asScala.collectFirst {
      case l if l.startsWith("wchar:") => l.split(":")(1).trim.toLong
    }.getOrElse(0L)
  }

  /** (bytes, files) of the regular files under `p` whose name passes `keep`. */
  def dirBytes(p: Path, keep: String => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && keep(f.getFileName.toString))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  // ----------------------------------------------------------------- trace

  final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int) {
    def seconds: Double = (end - start) / 1e9
  }

  /** Counters filled by the listeners, attributed per op by snapshot. */
  final class Counters {
    private val m = new ConcurrentHashMap[String, DoubleAdder]()
    def add(k: String, v: Double): Unit =
      m.computeIfAbsent(k, _ => new DoubleAdder).add(v)
    def snapshot(): Map[String, Double] =
      m.asScala.iterator.map { case (k, v) => k -> v.sum }.toMap
    val batchIds = ConcurrentHashMap.newKeySet[String]()
    val stateRows = new ConcurrentHashMap[String, java.lang.Long]()
  }

  final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
    val c = new Counters

    val sparkListener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        c.add("spark.jobs", 1)
        // micro-batch jobs carry "runId = <id> ... batch = <n>" in their
        // description: the scheduler's own count of streaming batches
        val desc = Option(e.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse("")
        val run = "runId = (\\S+)".r.findFirstMatchIn(desc).map(_.group(1))
        val batch = "batch = (\\d+)".r.findFirstMatchIn(desc).map(_.group(1))
        for (r <- run; b <- batch) c.batchIds.add(s"$r/$b")
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        c.add("spark.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        c.add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          val in = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          if (in > 0) c.add("spark.useful_tasks", 1)
          c.add("spark.executor_run_s", m.executorRunTime / 1e3)
          c.add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
          c.add("spark.sched_overhead_s",
            math.max(0L, e.taskInfo.duration - m.executorRunTime) / 1e3)
          c.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          c.add("recon.input_mb", m.inputMetrics.bytesRead / 1e6)
        }
      }
    }

    val sqlListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        c.add(s"qe_s.$funcName", durationNs / 1e9)
        if (funcName.toLowerCase.contains("checkpoint")) c.add("spark.checkpoints", 1)
        val plan: SparkPlan = qe.executedPlan
        collectWithSubqueries(plan) { case s: FileSourceScanLike => s }.foreach { s =>
          s.metrics.get("filesSize").foreach(m => c.add("sources.scan_mb", m.value / 1e6))
          s.metrics.get("numOutputRows").foreach(m => c.add("sources.scan_rows", m.value))
        }
        collectWithSubqueries(plan) { case w: DataWritingCommandExec => w }.foreach { w =>
          w.cmd.metrics.get("numOutputBytes").foreach(m => c.add("build.written_mb", m.value / 1e6))
          w.cmd.metrics.get("numFiles").foreach(m => c.add("build.files", m.value))
          w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              c.add(s"write_s.${i.outputPath.getName}", durationNs / 1e9)
            case _ =>
          }
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        c.add("streaming.batches", 1)
        val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        c.add("streaming.trigger_s", trig / 1e3)
        var rows = 0L
        p.stateOperators.foreach { s =>
          c.add("streaming.commit_s", s.commitTimeMs / 1e3)
          rows += s.numRowsTotal
        }
        c.stateRows.put(p.runId.toString, rows)
      }
    }

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(sqlListener)
      spark.streams.addListener(streamListener)
    }
    def drain(): Unit = SparkInternals.drain(spark.sparkContext)

    /** Counts of one op's work as Spark's status store saw it, by job group
      * (the op's own, and each streaming run's, which names its group by run
      * id): the truths the listener's own counters are reconciled with.
      */
    def statusCounts(groups: Seq[String]): Map[String, Double] = {
      val sc = spark.sparkContext
      val st = sc.statusTracker
      val jobs = groups.flatMap(st.getJobIdsForGroup(_))
      val stages = jobs.flatMap(j => st.getJobInfo(j).map(_.stageIds.toSeq).getOrElse(Nil))
        .distinct.flatMap(st.getStageInfo(_)).filter(_.numCompletedTasks > 0)
      Map("recon.jobs" -> jobs.length.toDouble,
        "recon.stages" -> stages.length.toDouble,
        "recon.tasks" -> stages.map(_.numCompletedTasks).sum.toDouble,
        "recon.useful_tasks" -> SparkInternals.usefulTasks(sc, stages.map(_.stageId).toSeq).toDouble)
    }

    /** Bytes of the shuffle data files under the session's local dir. */
    def shuffleFiles(localDir: Path): Map[String, Long] =
      if (!Files.exists(localDir)) Map.empty
      else {
        val s = Files.walk(localDir)
        try s.iterator().asScala.filter { f =>
          val n = f.getFileName.toString
          n.startsWith("shuffle_") && n.endsWith(".data")
        }.map(f => f.toString -> Files.size(f)).toMap
        finally s.close()
      }
  }

  // ------------------------------------------------------------------- run

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val work = Paths.get(conf.work)
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> conf.workload, "seed" -> conf.seed, "trace" -> conf.trace,
      "cpus" -> cpus, "seconds" -> conf.seconds)
    val spans = mutable.ArrayBuffer[Span]()
    /** Runs `body` inside a span that is a child of span `parent`. */
    def span[T](name: String, parent: Int)(body: => T): (T, Int) = {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), 0L, parent, spans(parent).op)
      val r = body
      spans(idx) = spans(idx).copy(end = System.nanoTime())
      (r, idx)
    }

    // ---- set-up, several times: build the tuned session and open every
    // input. The first rep also pays JVM start and class loading.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val localDir = work.resolve("local")
    def newSession(): SparkSession = Graft.tune(
        SparkSession.builder().master(s"local[$cpus]"), cpus)
      .appName(s"perfbench-${conf.workload}")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    val setupS = mutable.ArrayBuffer[Double]()
    val sessionS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (rep <- 1 to SetupReps) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime()
      spark = newSession()
      sessionS += (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setLogLevel("ERROR")
      InputTables.foreach(t => spark.read.parquet(s"${conf.data}/$t.parquet").schema)
      spark.read.parquet(s"${conf.data}/nation.parquet").count()
      val dt = (System.nanoTime() - t0) / 1e9
      setupS += (if (rep == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3 else dt)
    }
    out("setup_s") = setupS.toSeq
    out("session_s") = sessionS.toSeq
    val sc = spark.sparkContext
    val tracer = if (conf.trace) Some(new Tracer(spark)) else None

    def dropPersisted(): Int = {
      val rdds = sc.getPersistentRDDs.values.toSeq
      rdds.foreach(_.unpersist(blocking = true))
      rdds.size
    }
    val memBean = ManagementFactory.getMemoryMXBean
    /** Hygiene between ops, outside every timed window. */
    def fence(): (Int, Double) = {
      val n = dropPersisted()
      System.gc()
      (n, memBean.getHeapMemoryUsage.getUsed / 1e6)
    }

    // ---- ops: `run(warm, parentSpan)`; the warm run keeps its outputs
    // under `check/` for the oracle, timed runs write to a noop sink
    val checkDir = work.resolve("check")
    final case class Op(name: String, module: String, run: (Boolean, Int) => Map[String, Double])

    val rnd = new Random(conf.seed)

    def queryOp(name: String, module: String): Op = Op(name, module, (warm, parent) => {
      def sink(df: DataFrame): Unit =
        if (warm) df.write.mode("overwrite").parquet(checkDir.resolve(name).toString)
        else df.write.mode("overwrite").format("noop").save()
      val fn = SparkEntry.queries(name)
      val (df, callIdx) = span("call", parent)(fn(spark, conf.data))
      val planS = if (conf.trace) {
        val (_, i) = span("plan", parent)(df.queryExecution.executedPlan)
        spans(i).seconds
      } else 0.0
      val (_, execIdx) = span("exec", parent)(sink(df))
      Map("call_s" -> spans(callIdx).seconds,
        "plan_s" -> planS,
        "exec_s" -> spans(execIdx).seconds)
    })

    var refreshMonth = ""
    val buildReports = mutable.ArrayBuffer[Map[String, Any]]()
    val ops: Seq[Op] = conf.workload match {
      case "query_mix" => QueryMix.map { case (n, m) => queryOp(n, m) }
      case "dbt_build" =>
        // the refresh month: one of the last four ship months, by seed
        val last = spark.read.parquet(s"${conf.data}/lineitem.parquet")
          .selectExpr("date_format(max(l_shipdate), 'yyyy-MM')").head().getString(0)
        val ym = java.time.YearMonth.parse(last)
        refreshMonth = ym.minusMonths(Math.floorMod(conf.seed, 4L)).toString
        // a fresh warehouse per timed pass; the warm pass's stays for the oracle
        var warehouse = ""
        Seq(
          Op("build", "Build", (warm, parent) => {
            warehouse = if (warm) checkDir.resolve("warehouse").toString
              else work.resolve(s"warehouse/w${spans.length}").toString
            val (report, i) = span("call", parent)(Build.build(spark, conf.data, warehouse))
            buildReports += Map("warehouse" -> warehouse,
              "checks" -> report.checks.map(c => c.name -> c.violations).toMap)
            Map("call_s" -> spans(i).seconds)
          }),
          Op("refresh", "Build", (_, parent) => {
            val (_, i) = span("call", parent)(
              Build.buildFactIncremental(spark, conf.data, warehouse, Some(refreshMonth)))
            Map("call_s" -> spans(i).seconds)
          }))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out("refresh_month") = refreshMonth

    def attempt(op: Op, warm: Boolean, parent: Int): Option[Map[String, Double]] =
      try Some(op.run(warm, parent)) catch {
        case NonFatal(e) =>
          System.err.println(s"PERFBENCH FAIL ${op.name}: ${e.getClass.getName}: ${e.getMessage}")
          None
      }

    // ---- warm pass: untimed; its outputs are the ones the oracle checks
    val warmT0 = System.nanoTime()
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    ops.foreach { op =>
      fence()
      val idx = spans.length
      spans += Span(s"warm:${op.name}", System.nanoTime(), 0L, -1, -1)
      attempt(op, warm = true, idx)
      spans(idx) = spans(idx).copy(end = System.nanoTime())
    }
    out("warm_s") = (System.nanoTime() - warmT0) / 1e9
    out("build_reports_warm") = buildReports.toSeq
    buildReports.clear()
    fence()
    val tmpAfterWarm = dirBytes(tmpDir)._1

    // ---- timed passes, closed loop, until the budget is spent
    tracer.foreach(_.attach())
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    var opId = 0
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < conf.seconds) {
      val order = if (conf.workload == "dbt_build") ops else rnd.shuffle(ops)
      val passIdx = spans.length
      spans += Span(s"pass${passes.length}", System.nanoTime(), 0L, -1, -1)
      val samples = order.map { op =>
        tracer.foreach(_.drain())
        val before = tracer.map(_.c.snapshot()).getOrElse(Map.empty)
        val idsBefore = tracer.map(_.c.batchIds.size).getOrElse(0)
        val runsBefore = tracer.map(_.c.stateRows.keySet.asScala.toSet).getOrElse(Set.empty)
        val group = s"perfbench-op-${opId + 1}"
        val shuffleBefore = tracer.map(_.shuffleFiles(localDir)).getOrElse(Map.empty)
        if (conf.trace) sc.setJobGroup(group, op.name)
        opId += 1
        val gc0 = gcMs(); val cpu0 = cpuNs(); val w0 = writtenBytes()
        val opIdx = spans.length
        spans += Span(op.name, System.nanoTime(), 0L, passIdx, opId)
        val res = attempt(op, warm = false, opIdx)
        spans(opIdx) = spans(opIdx).copy(end = System.nanoTime())
        val wall = spans(opIdx).seconds
        val cpu = (cpuNs() - cpu0) / 1e9
        val gc = (gcMs() - gc0) / 1e3
        val written = (writtenBytes() - w0) / 1e6
        if (conf.trace) sc.clearJobGroup()
        val shuffleMb = tracer.map { tr =>
          tr.shuffleFiles(localDir).collect {
            case (f, n) if !shuffleBefore.contains(f) => n }.sum / 1e6
        }.getOrElse(0.0)
        val (dropped, heapMb) = fence()
        val traced: Map[String, Any] = tracer.fold(Map.empty[String, Any]) { tr =>
          tr.drain()
          val after = tr.c.snapshot()
          val deltas = (after.keySet ++ before.keySet).map(k =>
            k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
          val runs = tr.c.stateRows.asScala.filter { case (run, _) => !runsBefore.contains(run) }
          val stateRows = runs.values.map(_.longValue).sum
          Map("counters" -> (deltas ++ tr.statusCounts(group +: runs.keys.toSeq) ++ Map(
              "recon.shuffle_files_mb" -> shuffleMb,
              "recon.batch_ids" -> (tr.c.batchIds.size - idsBefore).toDouble,
              "recon.persisted_rdds" -> dropped.toDouble,
              "streaming.state_rows" -> stateRows.toDouble)))
        }
        Map[String, Any]("name" -> op.name, "module" -> op.module, "ok" -> res.isDefined,
          "wall_s" -> wall, "cpu_s" -> cpu, "gc_s" -> gc, "written_mb" -> written,
          "heap_after_gc_mb" -> heapMb) ++
          res.getOrElse(Map.empty) ++ traced
      }
      spans(passIdx) = spans(passIdx).copy(end = System.nanoTime())
      val pass = mutable.LinkedHashMap[String, Any]("ops" -> samples)
      if (conf.workload == "dbt_build") {
        val wh = Paths.get(buildReports.last("warehouse").toString)
        val (bytes, files) = dirBytes(wh, _.endsWith(".parquet"))
        pass("warehouse_parquet_mb") = bytes / 1e6
        pass("warehouse_parquet_files") = files
        pass("checks") = buildReports.last("checks")
        deleteTree(wh)
      }
      passes += pass.toMap
    }
    out("timed_s") = (System.nanoTime() - t0) / 1e9
    out("passes") = passes.toSeq
    out("tmp_residual_mb") = (dirBytes(tmpDir)._1 - tmpAfterWarm) / 1e6

    // ---- functions layer: direct kernel calls over in-memory inputs
    if (conf.trace) out("kernels") = kernelBench(spark, conf.data)

    // oracle SQL for every op the warm pass dumped
    val oracleNames = if (conf.workload == "dbt_build") BuildOracles else ops.map(_.name)
    out("oracle_sql") = oracleNames.map(n => n -> SparkEntry.oracleSql(n)).toMap
    out("check_dir") = checkDir.toString

    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    if (conf.trace) json.writeValue(work.resolve("spans.json").toFile, spans.toSeq)
    json.writeValue(work.resolve("result.json").toFile, out.toMap)
    spark.stop()
  }

  /** Median time per item of each `Kernels` function over the documents
    * and embeddings, held in memory as Spark's internal arrays.
    */
  def kernelBench(spark: SparkSession, data: String): Map[String, Double] = {
    val docs: Array[GenericArrayData] = spark.read.parquet(s"$data/documents.parquet")
      .select("text").collect().map(r =>
        new GenericArrayData(r.getString(0).split(" ", -1).map(UTF8String.fromString)))
    val distinct = docs.map(d => new GenericArrayData(d.array.distinct))
    val embs: Array[UnsafeArrayData] = spark.read.parquet(s"$data/embeddings.parquet")
      .select("embedding").collect().take(400).map(r =>
        UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](0).toArray))
    var sink = 0L
    def perItem(items: Int)(body: => Unit): Double = {
      body // JIT warm-up
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / items
      }.sorted
      ts(2)
    }
    val res = Map(
      "functions.minhash_us_per_doc" -> perItem(docs.length) {
        docs.foreach(d => sink += Kernels.minhash(d, 3, 32).numElements()) } / 1e3,
      "functions.simhash_us_per_doc" -> perItem(docs.length) {
        distinct.foreach(d => sink += Kernels.simhash64(d)) } / 1e3,
      "functions.winnow_us_per_doc" -> perItem(docs.length) {
        docs.foreach(d => sink += Kernels.winnow(d, 3, 8).numElements()) } / 1e3,
      "functions.cosine_ns_per_pair" -> perItem(embs.length * (embs.length - 1) / 2) {
        var i = 0
        while (i < embs.length) {
          var j = i + 1
          while (j < embs.length) { sink += Kernels.cosineF32(embs(i), embs(j)).toLong; j += 1 }
          i += 1
        }
      })
    if (sink == 42) System.err.println("") // keeps the kernel results live
    res
  }
}
