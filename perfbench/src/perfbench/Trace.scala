package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{JLong, JString}

/** One timed interval at a boundary the benchmark calls across. `parent`
  * is -1 until resolved (Spark jobs of a micro-batch, synthesized batch
  * phases); `trace` groups the spans of one micro-batch, read, pass or
  * generator tick. Times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, trace: String, layer: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans and Spark counters for a traced phase, kept in memory and written
  * out at the end. Everything is observed from outside the engine: spans
  * around calls into its public functions, a `SparkListener` for jobs,
  * stages and task metrics, and a `QueryExecutionListener` for Catalyst
  * phase times.
  */
final class Tracer {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def newId(): Long = ids.incrementAndGet()

  def record(parent: Long, trace: String, layer: String, name: String, start: Double, end: Double): Long = {
    val id = newId()
    spans.add(Span(id, parent, trace, layer, name, start, end))
    id
  }

  /** Runs `body` inside a span; Spark jobs it starts on this thread carry the
    * span id as a local property, which is how they are attributed.
    */
  def span[T](spark: SparkSession, parent: Long, trace: String, layer: String, name: String)(body: Long => T): T = {
    val id = newId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = nowMs
    var ok = false
    try { val r = body(id); ok = true; r }
    finally {
      sc.setLocalProperty(Tracer.SpanProp, prev)
      spans.add(Span(id, parent, trace, layer, if (ok) name else s"$name!failed", t0, nowMs))
    }
  }

  /** Lays a micro-batch's reported phase durations out as child spans, in
    * the order the micro-batch executor runs them. Spark reports only the
    * durations, so the phase start times are reconstructed from that order.
    */
  def microBatch(p: StreamingQueryProgress, parent: Long, layerOf: String => String): Unit = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
    val trace = s"batch-${p.batchId}"
    val batch = record(parent, trace, "stream", "micro-batch", start, start + d.getOrElse("triggerExecution", 0.0))
    var t = start
    for (phase <- Tracer.BatchPhases; ms <- d.get(phase)) {
      record(batch, trace, layerOf(phase), phase, t, t + ms)
      t += ms
    }
  }

  private var stats: SparkStats = _
  private var qel: QueryExecutionListener = _
  val planningMs = new java.util.concurrent.atomic.DoubleAdder()

  def attach(spark: SparkSession): Unit = {
    stats = new SparkStats
    spark.sparkContext.addSparkListener(stats)
    qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        planningMs.add(qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
  }

  /** Waits for the listener bus to deliver every job end, then detaches. */
  def detach(spark: SparkSession): SparkStats = {
    val deadline = System.nanoTime() + 15L * 1000000000L
    var last = -1L
    while (System.nanoTime() < deadline && !(stats.settled && stats.events.get == last)) {
      last = stats.events.get
      Thread.sleep(250)
    }
    spark.sparkContext.removeSparkListener(stats)
    spark.listenerManager.unregister(qel)
    stats.toSpans(this)
    stats
  }

  /** Gives every unresolved span the innermost span of its trace that
    * contains it, then computes self time per layer: span time minus the
    * part of it that its children cover.
    */
  def finish(fallbackParent: Long): (Seq[Span], Map[String, (Double, Int)]) = {
    val all = spans.asScala.toSeq
    val byTrace = all.groupBy(_.trace)
    val resolved = all.map { s =>
      if (s.parent >= 0) s
      else {
        // reconstructed phase boundaries are approximate, so the parent is
        // the longer span of the trace that covers most of this one
        def overlap(o: Span) = math.min(o.end, s.end) - math.max(o.start, s.start)
        val enclosing = byTrace(s.trace).filter(o => o.id != s.id && o.parent != s.id && o.dur >= s.dur &&
          overlap(o) >= 0.8 * s.dur && !o.name.startsWith("job-") && !o.name.startsWith("stage-"))
        val p = if (enclosing.isEmpty) fallbackParent else enclosing.minBy(o => (o.dur, -o.id)).id
        s.copy(parent = p)
      }
    }
    val children = resolved.groupBy(_.parent)
    val self = resolved.map { s =>
      val covered = Stats.unionMs(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.layer -> math.max(0.0, s.dur - covered)
    }
    val table = self.groupBy(_._1).map { case (l, xs) => l -> (xs.map(_._2).sum, xs.size) }
    (resolved, table)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val BatchPhases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
  val Layers: Seq[String] = Seq("sources", "ingest", "stateful", "lake", "operators", "stream", "spark", "gen")

  def toJson(s: Span): String = Json.render(Json.obj(Seq(
    "id" -> JLong(s.id), "parent" -> JLong(s.parent), "trace" -> JString(s.trace),
    "layer" -> JString(s.layer), "name" -> JString(s.name),
    "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end))))
}

/** Task metrics summed over a set of tasks. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: TaskTotals): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** Jobs, stages and task metrics, as the listener bus reports them. */
final class SparkStats extends SparkListener {
  final case class Job(id: Int, start: Long, stageIds: Seq[Int], span: Option[Long], batchId: Option[Long]) {
    @volatile var end: Long = -1
  }
  final case class Stage(id: Int, start: Long, end: Long, stateful: Boolean)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val perStage = new ConcurrentHashMap[Int, TaskTotals]()
  val events = new AtomicLong(0)

  def settled: Boolean = jobs.values.asScala.forall(_.end >= 0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs.put(e.jobId, Job(e.jobId, e.time, e.stageIds, prop(Tracer.SpanProp).map(_.toLong),
      prop("streaming.sql.batchId").map(_.toLong)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val i = e.stageInfo
    val stateful = i.rddInfos.exists(_.name.contains("StateStore"))
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.put(i.stageId, Stage(i.stageId, s, c, stateful))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      val t = perStage.computeIfAbsent(e.stageId, _ => new TaskTotals)
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuMs += m.executorCpuTime / 1e6
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Totals over the jobs selected by `keep`. */
  def totals(keep: Job => Boolean): TaskTotals = {
    val out = new TaskTotals
    jobs.values.asScala.filter(keep).flatMap(_.stageIds).toSeq.distinct
      .flatMap(s => Option(perStage.get(s))).foreach(out.add)
    out
  }

  /** Wall time inside [from, to] during which no selected job was running. */
  def idleMs(from: Double, to: Double, keep: Job => Boolean): Double = {
    val busy = Stats.unionMs(jobs.values.asScala.filter(j => keep(j) && j.end >= 0)
      .map(j => (math.max(j.start.toDouble, from), math.min(j.end.toDouble, to))))
    (to - from) - busy
  }

  /** Adds a span per job (parent: the benchmark span that started it, or
    * its micro-batch) and per stage (parent: its job).
    */
  def toSpans(t: Tracer): Unit = {
    val stageJob = mutable.Map.empty[Int, Long]
    val spanTrace = t.spans.asScala.map(s => s.id -> s.trace).toMap
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      if (j.end >= 0) {
        // a stream thread inherits the span property of the thread that
        // started the query, so a micro-batch job keeps its span only when
        // that span belongs to the same micro-batch (the benchmark's sink call)
        val batchTrace = j.batchId.map(b => s"batch-$b")
        val own = j.span.filter(s => batchTrace.forall(bt => spanTrace.get(s).contains(bt)))
        val trace = batchTrace.orElse(own.flatMap(spanTrace.get)).getOrElse("run")
        val id = t.record(own.getOrElse(-1L), trace, "spark", s"job-${j.id}", j.start.toDouble, j.end.toDouble)
        j.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
      }
    }
    val traceOf = t.spans.asScala.map(s => s.id -> s.trace).toMap
    stages.values.asScala.foreach { s =>
      stageJob.get(s.id).foreach { job =>
        t.record(job, traceOf(job), if (s.stateful) "stateful" else "spark", s"stage-${s.id}",
          s.start.toDouble, s.end.toDouble)
      }
    }
  }
}
