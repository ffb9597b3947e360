package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** Per-layer tracing for the traced passes, recorded from outside graft.
  *
  * Span tree per execution: `query:<name>` › `planner.build` /
  * `catalyst.plan` / `exec.action` › `job` › `stage`, with one
  * `streaming.batch` span per micro-batch under `planner.build` (a replay
  * runs its stream inside the call that builds its result). Jobs come from
  * a `SparkListener`, micro-batches from a `StreamingQueryListener`,
  * Catalyst phase times from the query's `QueryPlanningTracker`. Both
  * listeners are attached only while a traced query runs, and the
  * listener bus is drained before its span closes, so no event is
  * attributed to the next query.
  *
  * A job belongs to one layer, taken from its call site: `stage` when
  * `graft.Stage.materialize` launched it, `pipeline.<module>` when the
  * outermost graft library frame is Dedup, Similarity, Graph, Curate or
  * TextAnalysis, else `exec`. */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener
    with AdaptiveSparkPlanHelper {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  private def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }

  @volatile private var current: Ctx = _
  private val done = mutable.ArrayBuffer.empty[Ctx]

  private val streamListener = new StreamingQueryListener {
    private val runs = mutable.Map.empty[java.util.UUID, Ctx]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      synchronized { if (current != null) runs(e.runId) = current }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ctx = synchronized(runs.getOrElse(p.runId, current))
      if (ctx != null) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        val trig = d.getOrElse("triggerExecution", 0.0)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val ops = p.stateOperators.toSeq
        ctx.synchronized {
          ctx.batches += Batch(start, start + trig, d,
            ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
            ops.map(_.commitTimeMs).sum.toDouble, ops.map(_.numShufflePartitions).sum)
        }
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Opens the span of one traced execution. */
  def begin(name: String, pass: Int): Ctx = {
    System.setProperty("spark.callstack.depth", "400")
    val c = new Ctx(name, pass, newId(), nowMs)
    c.phaseStart("planner.build", c.start)
    current = c
    sc.addSparkListener(this)
    spark.streams.addListener(streamListener)
    c
  }

  /** Closes the current span once every event it caused has arrived. */
  def end(): Unit = {
    val c = current
    if (c != null) {
      ListenerDrain(sc)
      sc.removeSparkListener(this)
      spark.streams.removeListener(streamListener)
      System.clearProperty("spark.callstack.depth")
      c.close(nowMs)
      current = null
      if (c.ok) done += c
    }
  }

  final class Ctx(val name: String, val pass: Int, val id: Long, val start: Double) {
    var ok = false
    var end = 0.0
    val phases = mutable.LinkedHashMap.empty[String, (Double, Double)]
    private var openPhase: String = _
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.LinkedHashMap.empty[Int, StageRec]
    val batches = mutable.ArrayBuffer.empty[Batch]
    val tasks = new TaskTotals
    var catalyst = Map.empty[String, Double]
    var planNodes = 0
    var storageNow = 0L
    var storagePeak = 0L
    val blocks = mutable.Map.empty[String, Long]

    def phaseStart(p: String, t: Double): Unit = synchronized {
      if (openPhase != null) phases(openPhase) = phases(openPhase)._1 -> t
      phases(p) = t -> t
      openPhase = p
    }
    def phaseAt(t: Double): String = synchronized {
      phases.collectFirst { case (p, (s, e)) if t >= s && (t <= e || p == openPhase) => p }
        .getOrElse(openPhase)
    }
    /** Moves the execution into its next phase span. */
    def mark(p: String): Unit = phaseStart(p, nowMs)
    /** Records the Catalyst side of a completed execution. */
    def finish(df: DataFrame): Unit = {
      val qe = df.queryExecution
      catalyst = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      planNodes = collectWithSubqueries(qe.executedPlan) { case p => p }.size
      ok = true
    }
    def fail(): Unit = ok = false
    def close(t: Double): Unit = synchronized {
      if (openPhase != null) phases(openPhase) = phases(openPhase)._1 -> t
      end = t
    }
  }

  private def ctxOf(stageId: Int): Option[Ctx] =
    Option(current).filter(c => c.synchronized(c.stages.contains(stageId)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = current
    if (c != null) {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val stream = group == null || !group.startsWith("graftbench|")
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val t = e.time.toDouble
      c.synchronized {
        val j = Job(e.jobId, t, c.phaseAt(t), layerOf(site, stream), site, stream)
        c.jobs(e.jobId) = j
        e.stageInfos.foreach(s => c.stages(s.stageId) = StageRec(s.stageId, e.jobId, s.numTasks))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val c = current
    if (c != null) c.synchronized(c.jobs.get(e.jobId).foreach(_.end = e.time.toDouble))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    ctxOf(e.stageInfo.stageId).foreach { c =>
      c.synchronized(c.stages.get(e.stageInfo.stageId).foreach { s =>
        s.start = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(nowMs)
      })
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    ctxOf(e.stageInfo.stageId).foreach { c =>
      c.synchronized(c.stages.get(e.stageInfo.stageId).foreach { s =>
        s.end = e.stageInfo.completionTime.map(_.toDouble).getOrElse(nowMs)
        s.ran = true
      })
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    ctxOf(e.stageId).foreach(c => c.synchronized(c.tasks.add(e)))

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val c = current
    val info = e.blockUpdatedInfo
    if (c != null && info.blockId.isInstanceOf[RDDBlockId]) c.synchronized {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      c.storageNow += size - c.blocks.getOrElse(key, 0L)
      if (size > 0) c.blocks(key) = size else c.blocks.remove(key)
      c.storagePeak = math.max(c.storagePeak, c.storageNow)
    }
  }

  /** Per-layer metrics per traced pass, a per-query self-time breakdown
    * and the span tree of the last traced pass. */
  def report(tracedPasses: Int): Json.Obj = {
    val n = math.max(tracedPasses, 1).toDouble
    val execs = done.toSeq
    val out = new Json.Obj
    val m = mutable.LinkedHashMap.empty[String, Double]
    val allJobs = execs.flatMap(_.jobs.values)
    val allBatches = execs.flatMap(_.batches)
    val t = new TaskTotals
    execs.foreach(c => t.merge(c.tasks))
    val selfs = execs.map(selfTimes)
    def selfSum(k: String) = selfs.map(_.getOrElse(k, 0.0)).sum

    m("planner.build_ms") = selfSum("planner") / n
    m("planner.build_jobs") = allJobs.count(_.phase == "planner.build") / n
    for (p <- Seq("analysis", "optimization", "planning"))
      m(s"catalyst.${p}_ms") = execs.map(_.catalyst.getOrElse(p, 0.0)).sum / n
    m("catalyst.plan_nodes") = execs.map(_.planNodes).sum / n
    m("exec.jobs") = allJobs.size / n
    m("exec.stages") = execs.map(_.stages.values.count(_.ran)).sum / n
    m("exec.tasks") = t.tasks / n
    m("exec.task_run_s") = t.runMs / 1e3 / n
    m("exec.task_cpu_s") = t.cpuNs / 1e9 / n
    m("exec.gc_s") = t.gcMs / 1e3 / n
    val queryMs = execs.map(c => c.end - c.start).sum
    m("exec.core_busy_frac") = if (queryMs > 0) t.durMs / (cores * queryMs) else 0.0
    m("exec.sched_delay_ms") = if (t.tasks > 0) t.schedMs / t.tasks else 0.0
    m("exec.shuffle_write_mb") = t.shuffleWrite / MB / n
    m("exec.shuffle_read_mb") = t.shuffleRead / MB / n
    m("exec.spill_mb") = t.spill / MB / n
    m("exec.input_mb") = t.input / MB / n
    m("exec.output_mb") = t.output / MB / n
    m("exec.empty_task_frac") = if (t.tasks > 0) t.empty / t.tasks else 0.0
    m("exec.failed_tasks") = t.failed / n
    val mat = allJobs.filter(_.site.contains(MaterializeFrame))
    m("stage.materialize_jobs") = mat.size / n
    m("stage.materialize_s") = mat.map(_.durMs).sum / 1e3 / n
    m("stage.storage_peak_mb") = (execs.map(_.storagePeak) :+ 0L).max / MB
    for (mod <- PipelineModules) {
      val js = allJobs.filter(j => outermostModule(j.site).contains(mod))
      m(s"pipeline.${shortName(mod)}_s") = js.map(_.durMs).sum / 1e3 / n
      if (mod == "Graph") m("pipeline.graph_jobs") = js.size / n
    }
    val trig = allBatches.map(_.dur("triggerExecution")).sorted
    m("streaming.batches") = allBatches.size / n
    m("streaming.staging_s") = execs.map(c => union(c.jobs.values.toSeq
      .filter(j => !j.stream && j.site.contains(ReplayFrame)))).sum / 1e3 / n
    m("streaming.add_batch_ms") = allBatches.map(_.dur("addBatch")).sum / n
    m("streaming.query_planning_ms") = allBatches.map(_.dur("queryPlanning")).sum / n
    m("streaming.wal_commit_ms") = allBatches.map(b => b.dur("walCommit") + b.dur("commitOffsets")).sum / n
    m("streaming.state_commit_ms") = allBatches.map(_.stateCommitMs).sum / n
    val lastBatch = execs.flatMap(_.batches.lastOption)
    m("streaming.state_rows") = lastBatch.map(_.stateRows).sum / n
    m("streaming.state_mem_mb") = (allBatches.map(_.stateMem) :+ 0L).max / MB
    m("streaming.state_partitions") = lastBatch.map(_.stateParts).sum / n
    m("streaming.batch_p50_ms") = quantile(trig, 0.5)
    m("streaming.batch_p90_ms") = quantile(trig, 0.9)
    out.put("metrics", m)

    val perQuery = new Json.Obj
    execs.groupBy(_.name).foreach { case (name, cs) =>
      val q = new Json.Obj
      val k = cs.size.toDouble
      q.put("executions", cs.size)
      q.put("latency_ms", cs.map(c => c.end - c.start).sum / k)
      val self = mutable.LinkedHashMap.empty[String, Double]
      cs.map(selfTimes).foreach(_.foreach { case (l, v) => self(l) = self.getOrElse(l, 0.0) + v / k })
      q.put("self_ms", self)
      val tt = new TaskTotals
      cs.foreach(c => tt.merge(c.tasks))
      q.put("counters", Map(
        "jobs" -> cs.map(_.jobs.size).sum / k,
        "build_jobs" -> cs.map(_.jobs.values.count(_.phase == "planner.build")).sum / k,
        "materialize_jobs" -> cs.map(_.jobs.values.count(_.site.contains(MaterializeFrame))).sum / k,
        "stages" -> cs.map(_.stages.values.count(_.ran)).sum / k,
        "tasks" -> tt.tasks / k,
        "empty_tasks" -> tt.empty / k,
        "shuffle_write_mb" -> tt.shuffleWrite / MB / k,
        "shuffle_read_mb" -> tt.shuffleRead / MB / k,
        "spill_mb" -> tt.spill / MB / k,
        "batches" -> cs.map(_.batches.size).sum / k,
        "plan_nodes" -> cs.map(_.planNodes).sum / k,
        "analysis_ms" -> cs.map(_.catalyst.getOrElse("analysis", 0.0)).sum / k,
        "optimization_ms" -> cs.map(_.catalyst.getOrElse("optimization", 0.0)).sum / k,
        "planning_ms" -> cs.map(_.catalyst.getOrElse("planning", 0.0)).sum / k))
      perQuery.put(name, q)
    }
    out.put("queries", perQuery)
    val lastPass = (execs.map(_.pass) :+ -1).max
    out.put("spans", Json.arr(execs.filter(_.pass == lastPass).flatMap(spans)))
    out
  }

  /** Exclusive time per layer for one execution; the layers sum to its
    * latency up to overlapping jobs. */
  private def selfTimes(c: Ctx): Map[String, Double] = {
    val (s, e) = (c.start, c.end)
    val build = c.phases.get("planner.build").map { case (a, b) => b - a }.getOrElse(0.0)
    val plan = c.phases.get("catalyst.plan").map { case (a, b) => b - a }.getOrElse(0.0)
    val js = c.jobs.values.toSeq
    val streamJobs = union(js.filter(_.stream))
    val streaming = math.max(0.0, c.batches.map(_.dur("triggerExecution")).sum - streamJobs)
    val analysis = c.catalyst.getOrElse("analysis", 0.0)
    val buildJobs = union(js.filter(_.phase == "planner.build"))
    val byLayer = js.groupBy(_.layer).map { case (l, xs) => l -> union(xs) }
    val actionJobs = union(js.filter(_.phase == "exec.action"))
    val action = c.phases.get("exec.action").map { case (a, b) => b - a }.getOrElse(0.0)
    Map(
      "planner" -> math.max(0.0, build - buildJobs - streaming - analysis),
      "catalyst" -> (analysis + plan),
      "streaming" -> streaming,
      "collect" -> math.max(0.0, action - actionJobs)) ++ byLayer ++
      Map("total" -> (e - s))
  }

  private def spans(c: Ctx): Seq[Json.Obj] = {
    def span(id: String, parent: String, name: String, a: Double, b: Double,
        attrs: (String, Any)*): Json.Obj = {
      val o = new Json.Obj
      o.put("id", id); o.put("parent", parent); o.put("name", name)
      o.put("query", c.name); o.put("start_ms", a); o.put("end_ms", b)
      attrs.foreach { case (k, v) => o.put(k, v) }
      o
    }
    val q = s"${c.id}"
    val root = span(q, "run", s"query:${c.name}", c.start, c.end, "pass" -> c.pass)
    val phaseSpans = c.phases.toSeq.map { case (p, (a, b)) => span(s"$q.$p", q, p, a, b) }
    val jobSpans = c.jobs.values.toSeq.map { j =>
      span(s"$q.job${j.id}", s"$q.${j.phase}", "job", j.start, j.end,
        "layer" -> j.layer, "stream" -> j.stream)
    }
    val stageSpans = c.stages.values.toSeq.filter(_.ran).map { st =>
      span(s"$q.stage${st.id}", s"$q.job${st.jobId}", "stage", st.start, st.end,
        "tasks" -> st.numTasks)
    }
    val batchSpans = c.batches.zipWithIndex.map { case (b, i) =>
      span(s"$q.batch$i", s"$q.planner.build", "streaming.batch", b.start, b.end,
        "state_rows" -> b.stateRows)
    }
    Seq(root) ++ phaseSpans ++ jobSpans ++ stageSpans ++ batchSpans
  }
}

object Tracer {
  val MB = 1048576.0
  val MaterializeFrame = "graft.Stage$.materialize("
  val ReplayFrame = "graft.streaming.Streams$.replayAsStream("
  val PipelineModules = Seq("Dedup", "Similarity", "Graph", "Curate", "TextAnalysis")

  def shortName(mod: String): String = mod match {
    case "TextAnalysis" => "text"
    case other => other.toLowerCase
  }

  /** The module of the outermost `graft.pipeline` frame of a call site. */
  def outermostModule(site: String): Option[String] =
    site.split("\n").reverseIterator.map(_.trim).collectFirst {
      case f if f.startsWith("graft.pipeline.") =>
        f.stripPrefix("graft.pipeline.").takeWhile(c => c != '$' && c != '.')
    }.filter(PipelineModules.contains)

  def layerOf(site: String, stream: Boolean): String =
    if (stream) "exec"
    else if (site.contains(MaterializeFrame)) "stage"
    else outermostModule(site).map(m => s"pipeline.${shortName(m)}").getOrElse("exec")

  final case class Job(id: Int, start: Double, phase: String, layer: String,
      site: String, stream: Boolean) {
    var end: Double = start
    def durMs: Double = end - start
  }

  final case class StageRec(id: Int, jobId: Int, numTasks: Int) {
    var start = 0.0
    var end = 0.0
    var ran = false
  }

  final case class Batch(start: Double, end: Double, durations: Map[String, Double],
      stateRows: Long, stateMem: Long, stateCommitMs: Double, stateParts: Long) {
    def dur(k: String): Double = durations.getOrElse(k, 0.0)
  }

  final class TaskTotals {
    var tasks, runMs, cpuNs, gcMs, durMs, schedMs = 0.0
    var shuffleWrite, shuffleRead, spill, input, output, empty, failed = 0.0

    def add(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      tasks += 1
      if (info.failed || info.killed) failed += 1
      durMs += info.finishTime - info.launchTime
      val tm = e.taskMetrics
      if (tm != null) {
        runMs += tm.executorRunTime
        cpuNs += tm.executorCpuTime
        gcMs += tm.jvmGCTime
        schedMs += math.max(0L, (info.finishTime - info.launchTime) - tm.executorRunTime -
          tm.executorDeserializeTime - tm.resultSerializationTime - info.gettingResultTime)
        shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
        shuffleRead += tm.shuffleReadMetrics.totalBytesRead
        spill += tm.diskBytesSpilled
        input += tm.inputMetrics.bytesRead
        output += tm.outputMetrics.bytesWritten
        if (tm.inputMetrics.recordsRead + tm.shuffleReadMetrics.recordsRead == 0) empty += 1
      }
    }

    def merge(o: TaskTotals): Unit = {
      tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      durMs += o.durMs; schedMs += o.schedMs; shuffleWrite += o.shuffleWrite
      shuffleRead += o.shuffleRead; spill += o.spill; input += o.input
      output += o.output; empty += o.empty; failed += o.failed
    }
  }

  /** Length of the union of the jobs' intervals, in ms. */
  def union(js: Seq[Job]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    js.map(j => (j.start, j.end)).sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Quantile by linear interpolation between order statistics. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}
