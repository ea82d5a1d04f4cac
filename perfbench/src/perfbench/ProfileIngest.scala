package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.UserIngestPipeline

/** `profile_ingest`: the paper's pipeline as a closed backlog drain.
  *
  * `readStream.format("graft-profiles")` → `UserIngestPipeline.parse` →
  * `UserIngestPipeline.runAvailableNow`, which appends parquet per
  * micro-batch. Each drain is [[Batches]] micro-batches of [[RowsPerBatch]]
  * records; drains repeat until the run's seconds are spent. The seed
  * changes nothing: a record is a pure function of its index
  * (`ProfileSource.recordJson`).
  */
final class ProfileIngest(ctx: Ctx) extends WorkloadRun {
  import ProfileIngest._

  private val drains = mutable.ArrayBuffer.empty[Drain]

  def setup(): Unit = {
    val d = drain(ctx.spark, ctx.path("warm"), WarmBatches * RowsPerBatch, ctx.cpus, ctx.result)
    d.foreach(x => Files2.deleteRecursively(x.out))
  }

  def timed(workloadSpan: Long): Unit = {
    val t0 = System.nanoTime()
    var k = 0
    while (k == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      ctx.span(workloadSpan, s"drain-$k", "stream", "drain") { id =>
        drain(ctx.spark, ctx.path(s"d$k"), MaxRecords, ctx.cpus, ctx.result).foreach { d =>
          drains += d
          ctx.tracer.foreach(t => d.progress.foreach(t.microBatch(_, id, LayerOf)))
        }
      }
      k += 1
    }
  }

  def checkAndReport(stats: Option[SparkStats]): Unit = {
    val r = ctx.result
    val (wantClean, wantNullPostcode) = expected(MaxRecords)
    val clean = drains.zipWithIndex.map { case (d, k) =>
      r.checking(s"check.d$k.read") {
        val row = ctx.spark.read.parquet(d.out.toString)
          .agg(count(lit(1)), count(when(col("postcode").isNull, 1)), countDistinct(col("user_id"))).head()
        r.check(s"d$k.clean_rows", row.getLong(0), wantClean)
        r.check(s"d$k.null_postcodes", row.getLong(1), wantNullPostcode)
        r.check(s"d$k.distinct_user_ids", row.getLong(2), row.getLong(0))
        row.getLong(0)
      }.getOrElse(0L)
    }
    val batches = drains.flatMap(_.progress)
    val batchMs = batches.map(_.durationMs.get("triggerExecution").doubleValue)
    val wallS = drains.map(_.wallMs).sum / 1000
    val files = drains.flatMap(d => Files2.dataFiles(d.out))
    val rows = clean.sum.toDouble
    val rowsPerS = rows / wallS
    val e = r.endToEnd
    e("rows_per_s") = Metric(rowsPerS, "rows/s")
    e("latency_ms_p50") = Metric(Stats.pct(batchMs, 50), "ms", Some(batchMs.size))
    e("latency_ms_p90") = Metric(Stats.pct(batchMs, 90), "ms", Some(batchMs.size))
    r.report("ingest_rows_per_s") = e("rows_per_s")
    r.report("batch_ms_p50") = e("latency_ms_p50")
    r.report("batch_ms_p90") = e("latency_ms_p90")
    r.report("stored_bytes_per_row") = Metric(files.map(_._2).sum / rows, "B/row")
    r.report("drains") = Metric(drains.size.toDouble, "count")

    if (stats.isDefined) {
      val l = r.layers
      Stats.streamPhases(batches.toSeq, l)
      val input = batches.map(_.numInputRows).sum.toDouble
      l("sources.input_rows") = Metric(input, "rows")
      l("ingest.clean_rows") = Metric(rows, "rows")
      l("ingest.corrupt_rows") = Metric(input - rows, "rows")
      l("ingest.useful_ratio") = Metric(rows / input, "ratio")
      l("ingest.files_written") = Metric(files.size.toDouble, "count")
      l("ingest.bytes_written") = Metric(files.map(_._2).sum.toDouble, "B")
    }
    drains.foreach(d => Files2.deleteRecursively(d.out))
  }
}

object ProfileIngest {
  val RowsPerBatch = 1000L
  /** 40 micro-batches (about 13 s on 4 cores) is what the run budget allows. */
  val Batches = 40
  val MaxRecords: Long = RowsPerBatch * Batches
  val WarmBatches = 3

  /** Micro-batch phases: the source's offset and batch calls belong to the
    * source; `addBatch` is the pipeline's foreachBatch append.
    */
  val LayerOf: String => String = {
    case "latestOffset" | "getBatch" => "sources"
    case "addBatch" => "ingest"
    case _ => "stream"
  }

  /** Clean rows and null postcodes among records [0, n): records with
    * `i % 31 == 17` are torn, and `i % 7 == 3` carries a non-numeric postcode.
    */
  def expected(n: Long): (Long, Long) = {
    var clean, nullPc = 0L
    var i = 0L
    while (i < n) {
      if (i % 31 != 17) { clean += 1; if (i % 7 == 3) nullPc += 1 }
      i += 1
    }
    (clean, nullPc)
  }

  final case class Drain(out: Path, wallMs: Double, progress: Seq[StreamingQueryProgress])

  /** One closed backlog drain of `records` profiles into `dir`; each micro-batch counts as an operation. */
  def drain(spark: SparkSession, dir: Path, records: Long, partitions: Int, r: PhaseResult): Option[Drain] = {
    val ckpt = dir.resolveSibling(dir.getFileName.toString + "-ckpt")
    val raw = spark.readStream.format("graft-profiles")
      .option("rowsPerBatch", RowsPerBatch)
      .option("maxRecords", records)
      .option("numPartitions", partitions.toLong)
      .load()
    val t0 = System.nanoTime()
    val q = UserIngestPipeline.runAvailableNow(UserIngestPipeline.parse(raw), dir.toString, ckpt.toString)
    // a drain that fails leaves output no check can vouch for: it fails the run
    val ok = r.checking(s"drain.${dir.getFileName}")(q.awaitTermination())
    val wallMs = (System.nanoTime() - t0) / 1e6
    val progress = q.recentProgress.toSeq
    r.succeeded(progress.size)
    Files2.deleteRecursively(ckpt)
    ok.map(_ => Drain(dir, wallMs, progress))
  }

  /** One drain at `local[1]` with one reader partition: the single-thread
    * baseline. Returns clean rows committed per second of drain wall.
    */
  def local1RowsPerS(dir: Path, r: PhaseResult): Double = {
    java.nio.file.Files.createDirectories(dir)
    val spark = Main.newSession(dir, "local[1]")
    try {
      drain(spark, dir.resolve("out"), MaxRecords, 1, r).flatMap { d =>
        r.checking("check.local1.read") {
          val rows = spark.read.parquet(d.out.toString).count()
          r.check("local1.clean_rows", rows, expected(MaxRecords)._1)
          rows / (d.wallMs / 1000)
        }
      }.getOrElse(0.0)
    } finally {
      Main.stopSession(spark)
      Files2.deleteRecursively(dir)
    }
  }
}
