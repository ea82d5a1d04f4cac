package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s.{JDouble, JNull, JObject, JValue}
import org.json4s.jackson.JsonMethods

/** Percentiles over measured samples. */
object Stats {

  /** Linearly interpolated percentile `p` (0-100) of `xs`; NaN when empty. */
  def pct(xs: Iterable[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toIndexedSeq.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of the intervals `(start, end)`. */
  def unionMs(intervals: Iterable[(Double, Double)]): Double = {
    var total, curStart, curEnd = 0.0
    var open = false
    intervals.filter(i => i._2 > i._1).toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (open && a <= curEnd) curEnd = math.max(curEnd, b)
      else {
        if (open) total += curEnd - curStart
        curStart = a; curEnd = b; open = true
      }
    }
    if (open) total + (curEnd - curStart) else total
  }

  /** The `stream` layer: mean micro-batch phase times and the batch count. */
  def streamPhases(batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      l: mutable.Map[String, Metric]): Unit = {
    def phase(name: String) =
      mean(batches.map(p => Option(p.durationMs.get(name)).map(_.doubleValue).getOrElse(0.0)))
    l("stream.latest_offset_ms") = Metric(phase("latestOffset"), "ms")
    l("stream.query_planning_ms") = Metric(phase("queryPlanning"), "ms")
    l("stream.add_batch_ms") = Metric(phase("addBatch"), "ms")
    l("stream.wal_commit_ms") = Metric(phase("walCommit"), "ms")
    l("stream.commit_offsets_ms") = Metric(phase("commitOffsets"), "ms")
    l("stream.batches") = Metric(batches.size.toDouble, "count")
  }
}

/** JSON values for the result files, rendered with the json4s that Spark ships. */
object Json {
  /** A number; NaN and infinities, which JSON cannot hold, become null. */
  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  def obj(fields: Iterable[(String, JValue)]): JObject = JObject(fields.toList)

  def render(v: JValue): String = JsonMethods.compact(v)
}

/** One measured value with its unit and, for percentiles, the sample count. */
final case class Metric(value: Double, unit: String, samples: Option[Int] = None)

/** What one measured phase (untraced or traced) of a workload produced.
  *
  * `endToEnd` carries the BENCHMARK.json end-to-end metrics, `report` the
  * workload-specific user-facing metrics printed by name, `layers` the
  * per-layer metrics (only filled by a traced phase). Every operation the
  * phase attempts is counted; failures are kept by name and never dropped.
  */
final class PhaseResult {
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val report = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  private var attemptedOps = 0L
  private val failed = mutable.ArrayBuffer.empty[String]
  var correct = true
  /** Outputs left for the DuckDB oracle: (query, oracle SQL, output dir, corpus dir). */
  val oracle = mutable.ArrayBuffer.empty[(String, String, String, String)]

  def attempted: Long = synchronized(attemptedOps)
  def failures: Seq[String] = synchronized(failed.toList)

  /** Counts `n` attempted operations that did not fail. */
  def succeeded(n: Long = 1): Unit = synchronized(attemptedOps += n)

  /** Counts one attempted operation that failed. */
  def fail(op: String, why: String): Unit = synchronized {
    attemptedOps += 1
    failed += s"$op: $why"
    System.err.println(s"[perfbench] FAILED $op: $why")
  }

  /** Runs one operation, counting it and recording (not rethrowing) its failure. */
  def attempt[T](op: String)(body: => T): Option[T] =
    try { val r = body; succeeded(); Some(r) }
    catch { case NonFatal(e) => fail(op, describe(e)); None }

  /** A correctness check: counted as an operation, and a mismatch fails the run. */
  def check(name: String, got: Any, want: Any): Unit =
    if (got == want) succeeded()
    else { correct = false; fail(s"check.$name", s"got $got, want $want") }

  /** Work a correctness check depends on: like [[attempt]], but a check
    * that cannot run fails the run as a mismatch would.
    */
  def checking[T](op: String)(body: => T): Option[T] = {
    val r = attempt(op)(body)
    if (r.isEmpty) correct = false
    r
  }

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" +
      (if (root ne e) s" (root ${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(200)})" else "")
  }
}

/** Everything a workload phase needs: its session, inputs and output sinks. */
final class Ctx(
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val dir: Path,
    val tracer: Option[Tracer],
    val result: PhaseResult) {
  var spark: SparkSession = _
  val cpus: Int = graft.core.GraftSession.cpus

  /** Times `body` as a span of `layer` when tracing; a plain call otherwise. */
  def span[T](parent: Long, trace: String, layer: String, name: String)(body: Long => T): T =
    tracer match {
      case Some(t) => t.span(spark, parent, trace, layer, name)(body)
      case None => body(0L)
    }

  def path(name: String): Path = dir.resolve(name)
}

object Files2 {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  /** Visible data files (not hidden, not checksums) under `p` and their bytes. */
  def dataFiles(p: Path): Seq[(Path, Long)] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
          val rel = p.relativize(f)
          rel.iterator().asScala.forall { c => val n = c.toString; !n.startsWith("_") && !n.startsWith(".") } &&
            f.getFileName.toString.endsWith(".parquet")
        }.map(f => f -> Files.size(f)).toList
      } finally s.close()
    }
}
