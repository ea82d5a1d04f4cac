package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.{LakeSink, StatefulOps}

/** `lake_stream`: events arrive in an open loop and land in the lake while
  * the lake is read.
  *
  * One generator thread writes one `events`-shaped parquet file into a
  * landing directory every [[TickMs]] ms, [[RowsPerTick]] new events each;
  * event time moves forward in order, and a seeded ~5% of events are sent
  * again one to [[MaxDupLagTicks]] ticks later, inside the 10-minute
  * watermark. The stream is `readStream.parquet` →
  * `StatefulOps.dedupWithinWatermark` → `foreachBatch` calling a
  * `LakeSink.datePartitioned` sink (compaction every 5 batches, zone maps
  * on `event_id`). One reader thread, on its own schedule, rotates through
  * `readLake`, `readPruned`, `readAsOf` and `tailCommits`. Latencies are
  * measured from each file's or read's due time, so a stall also charges
  * the work queued behind it.
  */
final class LakeStream(ctx: Ctx) extends WorkloadRun {
  import LakeStream._

  private val ticks = math.max(1, (ctx.seconds * 1000 / TickMs).toInt)
  private lazy val plan = Plan(ctx.seed, ticks)
  private val landing = ctx.path("landing")
  private val stage = ctx.path("stage")
  private val lake = ctx.path("lake")
  private val ckpt = ctx.path("ckpt")

  private final case class SinkCall(batchId: Long, start: Double, end: Double, readOps: Long, writeOps: Long)
  private final case class Read(kind: String, due: Double, start: Double, end: Double, ok: Boolean,
      pruned: Option[(Int, Int)])
  private val sinkCalls = new ConcurrentHashMap[Long, SinkCall]()
  private val reads = java.util.Collections.synchronizedList(new java.util.ArrayList[Read]())
  private val tickDue = new Array[Double](ticks)
  private val tickLate = new Array[Double](ticks)
  private var progress: Seq[StreamingQueryProgress] = Nil
  private var windowEnd = 0.0

  private def clean(): Unit = Seq(landing, stage, lake, ckpt).foreach(Files2.deleteRecursively)

  def setup(): Unit = {
    // warm-up: the same pipeline and one read of each kind over a few files
    clean()
    Seq(landing, stage).foreach(Files.createDirectories(_))
    (0 until 3).foreach(k => writeTick(k))
    val q = startStream(warm = true)
    try q.awaitTermination() finally q.stop()
    val latest = sinkCalls.keys.asScala.max
    ReadKinds.indices.foreach(i => runRead(i, latest))
    sinkCalls.clear()
    clean()
  }

  def timed(workloadSpan: Long): Unit = {
    Seq(landing, stage).foreach(Files.createDirectories(_))
    plan.writtenTicks.set(-1)
    val q = startStream(warm = false)
    // processing-time triggers fire on multiples of TriggerMs since the
    // epoch: start the schedule just after one, so that every run cuts its
    // files into micro-batches the same way
    val t0 = (math.floor((nowMs + 200) / TriggerMs) + 1) * TriggerMs + TickMs / 2
    windowEnd = t0 + ticks * TickMs
    val failed = new AtomicBoolean(false)
    val generator = thread("perfbench-generator") {
      for (k <- 0 until ticks if !failed.get) {
        tickDue(k) = t0 + k * TickMs
        sleepUntil(tickDue(k))
        val start = nowMs
        tickLate(k) = start - tickDue(k)
        try ctx.span(workloadSpan, s"tick-$k", "gen", "write-file")(_ => writeTick(k))
        catch { case e: Throwable => failed.set(true); ctx.result.fail(s"gen.tick-$k", ctx.result.describe(e)) }
      }
    }
    val reader = thread("perfbench-reader") {
      var j = 0
      while (t0 + ReadStartMs + j * ReadEveryMs < windowEnd && q.isActive) {
        val due = t0 + ReadStartMs + j * ReadEveryMs
        sleepUntil(due)
        while (lastCommitted.get < 0 && q.isActive) Thread.sleep(2)
        val kind = j % ReadKinds.size
        val res = ctx.span(workloadSpan, s"read-$j", "lake", ReadKinds(kind)) { _ =>
          runRead(kind, lastCommitted.get)
        }
        reads.add(res.copy(due = due))
        j += 1
      }
    }
    generator.join()
    reader.join()
    // the census check needs every landed file committed
    ctx.result.checking("stream.drain-landed") { q.processAllAvailable() }
    q.stop()
    progress = q.recentProgress.toSeq
    ctx.result.succeeded(progress.size)
    ctx.tracer.foreach(t => progress.foreach(t.microBatch(_, workloadSpan, _ => "stream")))
  }

  private val lastCommitted = new AtomicLong(-1)
  private val compacting = new AtomicBoolean(false)

  private def startStream(warm: Boolean): StreamingQuery = {
    lastCommitted.set(-1)
    val sink = LakeSink.datePartitioned(lake.toString, tsCol = "ts", compactEvery = CompactEvery,
      statsCols = Seq("event_id"))
    val in = ctx.spark.readStream.schema(EventSchema).parquet(landing.toString)
    val w = StatefulOps.dedupWithinWatermark(in).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val compaction = batchId % CompactEvery == CompactEvery - 1
        ctx.span(-1L, s"batch-$batchId", "lake", if (compaction) "sink+compact" else "sink") { _ =>
          val (r0, w0) = CountingLocalFileSystem.threadOps()
          val start = nowMs
          compacting.set(compaction)
          try sink(batch, batchId) finally compacting.set(false)
          val (r1, w1) = CountingLocalFileSystem.threadOps()
          sinkCalls.put(batchId, SinkCall(batchId, start, nowMs, r1 - r0, w1 - w0))
          lastCommitted.set(batchId)
        }
      }
    w.trigger(if (warm) Trigger.AvailableNow() else Trigger.ProcessingTime(TriggerMs)).start()
  }

  /** One read of kind `kind` against the lake as of the latest commit. */
  private def runRead(kind: Int, latest: Long): Read = {
    val spark = ctx.spark
    val start = nowMs
    val duringCompaction = compacting.get
    var pruned: Option[(Int, Int)] = None
    val ok = ctx.result.attempt(s"read.${ReadKinds(kind)}") {
      try {
        val df = kind match {
          case 0 => LakeSink.readLake(spark, lake.toString)
          case 1 =>
            val hi = (plan.writtenTicks.get + 1L) * RowsPerTick
            val (df, rep) = LakeSink.readPruned(spark, lake.toString, "event_id",
              BigDecimal(math.max(0L, hi - PrunedTicks * RowsPerTick)), BigDecimal(hi))
            pruned = Some((rep.totalFiles, rep.scannedFiles))
            df
          case 2 => LakeSink.readAsOf(spark, lake.toString, math.max(0L, latest - 1))
          case 3 => LakeSink.tailCommits(spark, lake.toString, math.max(-1L, latest - TailCommits), latest)
        }
        df.agg(count(lit(1)), sum(col("event_id"))).collect()
      } catch {
        // a read that fails while the writer compacts is a finding: say so
        case e: Throwable if duringCompaction || compacting.get =>
          throw new RuntimeException(s"read failed while a compaction was running: ${ctx.result.describe(e)}", e)
      }
    }.isDefined
    Read(ReadKinds(kind), start, start, nowMs, ok, pruned)
  }

  private def writeTick(k: Int): Unit = {
    val name = f"tick-$k%05d.parquet"
    val tmp = stage.resolve(name)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp)).withType(ParquetSchema).build()
    val f = new SimpleGroupFactory(ParquetSchema)
    try plan.file(k).foreach { e =>
      w.write(f.newGroup().append("event_id", e.id).append("ts", e.tsMicros).append("user_id", e.user)
        .append("event_type", e.eventType).append("value", e.value).append("props", e.props))
    } finally w.close()
    Files.move(tmp, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    plan.writtenTicks.set(k)
  }

  def checkAndReport(stats: Option[SparkStats]): Unit = {
    val r = ctx.result
    // correctness: the final census equals the distinct generated events
    r.checking("check.census") {
      val census = LakeSink.readLake(ctx.spark, lake.toString)
      val perDate = census.groupBy(col("event_date").cast("string").as("d"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s")).collect()
        .map(row => row.getString(0) -> (row.getLong(1), row.getLong(2))).toMap
      val want = plan.originals.groupBy(e => plan.date(e.tsMicros))
        .map { case (d, es) => d -> (es.size.toLong, es.map(_.id).sum) }
      r.check("lake.rows", perDate.values.map(_._1).sum, want.values.map(_._1).sum)
      r.check("lake.sum_event_id", perDate.values.map(_._2).sum, want.values.map(_._2).sum)
      r.check("lake.per_date", perDate, want)
      r.check("lake.distinct_event_ids", census.select(countDistinct(col("event_id"))).head().getLong(0),
        plan.originals.size.toLong)
    }

    // which micro-batch committed each landed file: the file source's log
    val fileBatch = sourceLog(ckpt.resolve("sources").resolve("0"))
    val freshness = mutable.ArrayBuffer.empty[Double]
    var backlogRows = 0L
    for (k <- 0 until ticks) {
      val end = fileBatch.get(f"tick-$k%05d.parquet").flatMap(b => Option(sinkCalls.get(b))).map(_.end)
      end match {
        case Some(e) =>
          freshness += e - tickDue(k)
          if (e > windowEnd) backlogRows += plan.file(k).size
        case None => r.fail(s"freshness.tick-$k", "landed file never committed by a sink call")
      }
    }
    val allReads = reads.asScala.toList
    val readMs = allReads.filter(_.ok).map(x => x.end - x.due)
    val batchMs = progress.map(_.durationMs.get("triggerExecution").doubleValue)
    val files = Files2.dataFiles(lake)
    val rows = plan.originals.size.toDouble
    val lastEnd = (0 until ticks).flatMap(k => fileBatch.get(f"tick-$k%05d.parquet"))
      .flatMap(b => Option(sinkCalls.get(b))).map(_.end).foldLeft(windowEnd)(math.max)
    val e = r.endToEnd
    // the open loop offers a fixed rate, so this stays near it while the
    // pipeline keeps up; it only drops when commits fall behind
    e("rows_per_s") = Metric(rows / ((lastEnd - tickDue(0)) / 1000), "rows/s")
    Seq(50, 90).foreach { p =>
      r.report(s"freshness_ms_p$p") = Metric(Stats.pct(freshness.toSeq, p), "ms", Some(freshness.size))
      r.report(s"read_ms_p$p") = Metric(Stats.pct(readMs, p), "ms", Some(readMs.size))
    }
    e("latency_ms_p50") = r.report("freshness_ms_p50")
    // the tail joins freshness and reads by geometric mean, so that a change
    // that makes reads cheaper by making commits dearer, or the reverse,
    // shows; the read median over a run's few mixed reads is too unsteady
    // to bound and stays in the report
    e("latency_ms_p90") = Metric(math.sqrt(r.report("freshness_ms_p90").value * r.report("read_ms_p90").value),
      "ms", Some(freshness.size + readMs.size))
    r.report("batch_ms_p50") = Metric(Stats.pct(batchMs, 50), "ms", Some(batchMs.size))
    r.report("batch_ms_p90") = Metric(Stats.pct(batchMs, 90), "ms", Some(batchMs.size))
    r.report("stored_bytes_per_row") = Metric(files.map(_._2).sum / rows, "B/row")
    r.report("offered_rows_per_s") = Metric(RowsPerTick * 1000.0 / TickMs, "rows/s")

    if (stats.isDefined) {
      val l = r.layers
      Stats.streamPhases(progress, l)
      val ops = progress.flatMap(_.stateOperators.headOption)
      val dropped = ops.map(o => o.numRowsDroppedByWatermark +
        Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum
      val input = progress.map(_.numInputRows).sum
      l("stateful.rows_total") = Metric(ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows")
      l("stateful.dupes_dropped") = Metric(dropped.toDouble, "rows")
      l("stateful.commit_ms") = Metric(Stats.mean(ops.map(_.commitTimeMs.toDouble)), "ms")
      l("stateful.memory_bytes") = Metric(ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0), "B")
      l("stateful.dedup_ratio") = Metric(if (input == 0) 0.0 else dropped.toDouble / input, "ratio")
      val calls = sinkCalls.values.asScala.toSeq
      val (compact, plain) = calls.partition(c => c.batchId % CompactEvery == CompactEvery - 1)
      val plainMs = plain.map(c => c.end - c.start)
      l("lake.commit_ms_p50") = Metric(Stats.pct(plainMs, 50), "ms", Some(plainMs.size))
      l("lake.commit_ms_p90") = Metric(Stats.pct(plainMs, 90), "ms", Some(plainMs.size))
      l("lake.compact_commit_ms_p50") = Metric(Stats.median(compact.map(c => c.end - c.start)), "ms",
        Some(compact.size))
      l("lake.fs_read_ops_per_commit") = Metric(Stats.mean(calls.map(_.readOps.toDouble)), "count")
      l("lake.fs_write_ops_per_commit") = Metric(Stats.mean(calls.map(_.writeOps.toDouble)), "count")
      l("lake.files_live") = Metric(files.size.toDouble, "count")
      l("lake.bytes_live") = Metric(files.map(_._2).sum.toDouble, "B")
      ReadKinds.foreach { k =>
        l(s"lake.${k}_ms") = Metric(Stats.median(allReads.filter(x => x.kind == k && x.ok).map(x => x.end - x.start)), "ms")
      }
      val pr = allReads.flatMap(_.pruned).filter(_._1 > 0)
      l("lake.pruned_files_ratio") = Metric(Stats.mean(pr.map { case (t, s) => 1.0 - s.toDouble / t }), "ratio")
      l("gen.late_ms_p90") = Metric(Stats.pct(tickLate.toSeq, 90), "ms", Some(ticks))
      l("gen.late_ms_max") = Metric(tickLate.max, "ms")
      l("gen.backlog_rows_end") = Metric(backlogRows.toDouble, "rows")
    }
    clean()
  }
}

object LakeStream {
  val TickMs = 100
  /** Micro-batch trigger interval: each batch takes the files of two seconds. */
  val TriggerMs = 2000L
  val RowsPerTick = 100
  /** Event time covered by one tick: 100 ticks span 33 minutes. */
  val TickEventMicros: Long = 20L * 1000000
  val DupShare = 0.05
  val MaxDupLagTicks = 4
  val CompactEvery = 5L
  val ReadStartMs = 500
  val ReadEveryMs = 1000
  val PrunedTicks = 20
  val TailCommits = 3
  val ReadKinds: Seq[String] = Seq("read_lake", "read_pruned", "read_as_of", "tail_commits")

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType), StructField("props", StringType)))

  val ParquetSchema = MessageTypeParser.parseMessageType(
    """message events {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required binary props (STRING);
      |}""".stripMargin)

  final case class Event(id: Long, tsMicros: Long, user: Long, eventType: String, value: Double, props: String)

  /** The seeded input: tick k's new events, plus re-sent copies of earlier ones. */
  final case class Plan(seed: Long, ticks: Int) {
    private val rnd = new scala.util.Random(seed)
    private val Types = Array("click", "view", "purchase", "signup", "error")
    /** Runs start at 23:40 UTC on a seeded January day, so the stream crosses midnight. */
    private val base: Long = (java.time.LocalDate.of(2024, 1, 1 + (math.abs(seed) % 28).toInt)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond + (23 * 60 + 40) * 60L) * 1000000L
    private val fresh: Array[Array[Event]] = Array.tabulate(ticks) { k =>
      Array.tabulate(RowsPerTick) { j =>
        val id = k.toLong * RowsPerTick + j
        Event(id, base + k * TickEventMicros + j * (TickEventMicros / RowsPerTick), rnd.nextInt(1000).toLong,
          Types(rnd.nextInt(Types.length)), math.round(rnd.nextDouble() * 10000) / 100.0,
          s"""{"k": ${rnd.nextInt(100)}}""")
      }
    }
    private val resent: Array[mutable.ArrayBuffer[Event]] = {
      val out = Array.fill(ticks)(mutable.ArrayBuffer.empty[Event])
      for (k <- 0 until ticks; e <- fresh(k) if rnd.nextDouble() < DupShare) {
        val t = k + 1 + rnd.nextInt(MaxDupLagTicks)
        if (t < ticks) out(t) += e
      }
      out
    }
    val writtenTicks = new AtomicLong(-1)

    def file(k: Int): Seq[Event] = fresh(k).toSeq ++ resent(k)
    def originals: Seq[Event] = fresh.toSeq.flatten
    def date(tsMicros: Long): String =
      java.time.Instant.ofEpochSecond(tsMicros / 1000000).atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
  }

  def nowMs: Double = System.currentTimeMillis().toDouble

  def sleepUntil(t: Double): Unit = {
    val d = t - nowMs
    if (d > 0) Thread.sleep(d.toLong, ((d - d.toLong) * 1e6).toInt)
  }

  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** File name → micro-batch id, from the file source's metadata log. */
  def sourceLog(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val entry = """"path":"([^"]*)".*"batchId":(\d+)""".r
      val s = Files.list(dir)
      try s.iterator().asScala.filter(p => !p.getFileName.toString.startsWith(".")).flatMap { p =>
        Files.readAllLines(p).asScala.flatMap(l => entry.findFirstMatchIn(l))
          .map(m => m.group(1).split('/').last -> m.group(2).toLong)
      }.toMap
      finally s.close()
    }
}
