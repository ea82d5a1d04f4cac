package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every registered query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Methodology:
  *   - results are materialized through the `noop` sink — a bare count()
  *     would let Catalyst prune away the very projections being measured;
  *   - one warmup execution per query (JIT + code cache + page cache), then
  *     the better of two timed runs is reported — steady-state per-query
  *     latency, which is what a resident service would see;
  *   - contention defense: this host varies up to 10x under load, and in
  *     round 4 a single contended window recorded t12 at 29 s (1.77 s
  *     isolated) into the official artifact. After the main pass, any query
  *     whose drift-normalized time exceeds its suspect gate (2x the
  *     committed clean reference for refs >= 0.3 s — aligned with the
  *     grading rule after the 3x gate let r9's e6 and r10's e8 ship 2-3x
  *     rows un-re-measured; 3x + 0.5 s for sub-0.3 s refs where JVM noise
  *     dominates) is re-measured twice more and the minimum wins; if the
  *     re-measure disagrees by >2x the query is flagged in a `contended`
  *     list so one noisy window can neither dominate the artifact nor pass
  *     silently. Both the original and re-measured times are recorded in
  *     the artifact (`remeasured`), and a query whose BEST time still
  *     exceeds the gate lands in `still_slow` — so a genuine regression
  *     vs the reference cannot be silently absorbed by the keep-min rule.
  *   - drift calibration: a deterministic CPU-bound workload (see
  *     calibrationWorkload) is timed at the start of every run and recorded
  *     in bench_ref as `_calibration`; the ratio now/ref (clamped to
  *     [1, 3]) divides each measured time before the gate compare, so the
  *     box's tracked 0.70x-1.33x window-to-window swings don't mass-trigger
  *     the tightened 2x gate. The artifact reports it under `calibration`.
  *   - coverage defense: when a reference recording is active, every
  *     registered query missing from it is listed in `ref_missing` — a
  *     query added after the recording (round 5's q60 was benched against
  *     nothing) is flagged loudly instead of silently skipping the gate.
  *   - failure defense: a query that throws is recorded as -1 and cannot
  *     enter any total, so it is listed under `failed` and the run exits
  *     non-zero — a total that silently lacks a query is not a result.
  *   - the artifact splits `batch_total` from `streaming_replay_total`:
  *     st* rows replay fixed per-micro-batch machinery (state-store commits
  *     + WAL, constant in data size — see ReplayHarness scaladoc), so
  *     folding them into one number would drown the batch throughput
  *     signal the 2x baseline gate is about. `value` stays the grand total
  *     for driver compatibility.
  */
object Bench {

  /** st* rows are streaming REPLAYS (fixed-cost machinery), everything else
    * measures batch operator throughput.
    */
  def isStreamingReplay(name: String): Boolean = name.startsWith("st")

  /** Registered queries missing from an ACTIVE reference recording — these
    * dodge the contention re-measure pass entirely, so they must be loud.
    * An empty ref (missing file / sf mismatch) disables the check rather
    * than flagging everything.
    */
  def refGaps(registered: Seq[String], ref: Map[String, Double]): Seq[String] =
    if (ref.isEmpty) Seq.empty else registered.filterNot(ref.contains).sorted

  /** Name of the drift-calibration row in bench_ref.json. The leading
    * underscore keeps it out of the registered-query namespace (like `_sf`),
    * so refGaps/BenchGuardSpec never treat it as a query.
    */
  val CalibrationKey = "_calibration"

  /** Deterministic CPU-bound calibration workload: 1.6B codegen'd xxhash64
    * evaluations over `range` (generated in-memory — no IO, no shuffle, no
    * cache variance), fanned across every local core (defaultParallelism —
    * derived, not hard-coded, so the recorded host shape is checkable). Its
    * runtime moves with the box's available CPU, which is exactly the drift
    * the tracked 0.70x-1.33x swings are made of (BENCH_NOTES rounds 6-10) —
    * so the ratio now/ref is a per-run drift estimate every query ratio can
    * be normalized by before the suspect gate fires. The ratio is only
    * meaningful when ref and run share a core count, so the recording
    * carries [[CalibrationParKey]] and a mismatch disables drift loudly
    * instead of skewing every gate through the clamped divisor.
    */
  def calibrationWorkload(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(0L, 1600000000L, 1L, spark.sparkContext.defaultParallelism)
      .select(xxhash64(org.apache.spark.sql.functions.col("id")).as("h"))
      .agg(expr("bit_xor(h)").as("s")) // xor, not sum: ANSI mode overflows a multi-billion-long sum
  }

  /** bench_ref key recording the core count the calibration ran on. */
  val CalibrationParKey = "_calibration_par"

  /** The calibration reference usable on THIS host: the recorded time only
    * when the recording's core count matches (or predates the host-shape
    * key — old refs stay usable on the recording host). A mismatch returns
    * None, which degrades the drift divisor to 1 — detectable, not skewed.
    */
  def calibRefFor(ref: Map[String, Double], par: Int): Option[Double] =
    if (ref.get(CalibrationParKey).forall(_ == par.toDouble)) ref.get(CalibrationKey)
    else None

  /** Drift divisor applied to a measured time before the suspect gate:
    * only slows the gate down (never speeds it up — a faster-than-recording
    * box must not inflate times into suspicion), and is capped at 3x so a
    * contended calibration measurement cannot mask an arbitrarily large
    * real regression.
    */
  def driftDivisor(calibNow: Option[Double], calibRef: Option[Double]): Double =
    (for (n <- calibNow; r <- calibRef if r > 0) yield
      math.min(3.0, math.max(1.0, n / r))).getOrElse(1.0)

  /** Suspect gate vs the committed reference: 2x for refs >= 0.3 s (the
    * grading rule's own threshold — the old 3x gate let two consecutive
    * rounds' 2-3x rows ship un-re-measured), 3x + 0.5 s pad for sub-0.3 s
    * references where JVM noise dominates.
    */
  def suspectGate(refTime: Double): Double =
    if (refTime >= 0.3) 2 * refTime else 3 * refTime + 0.5

  /** Queries whose measurement threw (recorded as a negative time), by
    * name. They cannot be part of `value` or `batch_total`, so the run
    * lists them under `failed` and exits non-zero instead of reporting a
    * total that silently lacks them.
    */
  def failedQueries(times: Seq[(String, Double)]): Seq[String] =
    times.collect { case (name, t) if t < 0 => name }.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional arg: comma-separated query-name prefixes to run (iteration aid).
    val filter: String => Boolean =
      if (args.isEmpty) _ => true
      else { val ps = args(0).split(','); n => ps.exists(n.startsWith) }
    val spark = graft.core.GraftSession.getOrCreate()

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Drift calibration (see calibrationWorkload): measured FIRST, same
    // warmup + best-of-2 discipline as the queries, so its ratio vs the
    // recorded reference prices this run's box speed.
    def runCalib(): Double = {
      val t0 = System.nanoTime()
      calibrationWorkload(spark).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val calibNow = try { runCalib(); Some(math.min(runCalib(), runCalib())) }
    catch { case e: Throwable =>
      System.err.println(s"[bench] calibration failed: ${e.getMessage}"); None
    }
    System.gc()
    calibNow.foreach(t => System.err.println(f"[bench] ${CalibrationKey}%-28s ${t}%9.3f s"))

    val results = SparkEntry.queries.toSeq.sortBy(_._1).filter(p => filter(p._1)).map {
      case (name, fn) =>
        val t = try {
          runOnce(fn) // warmup
          math.min(runOnce(fn), runOnce(fn))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e"); -1.0
        }
        // Inter-query hygiene: round 1's q24-q28 ran 13-54 s in the full bench
        // but 0.3-0.9 s in isolation — heap/GC debris from the (then) 494 s d4
        // poisoned later queries. A forced GC lets Spark's ContextCleaner drop
        // dead broadcast/shuffle state so each query is measured cold-state.
        System.gc()
        System.err.println(f"[bench] $name%-28s ${t}%9.3f s")
        (name, fn, t)
    }

    // Contention re-measure pass (see header). The reference is keyed to its
    // recording's sf dir — a mismatched scale factor disables the comparison
    // rather than re-measuring everything.
    val ref: Map[String, Double] = {
      val p = java.nio.file.Paths.get("bench_ref.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val text = java.nio.file.Files.readString(p)
        val sfOk = """"_sf"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(text)
          .exists(_.group(1) == sfDir)
        if (!sfOk) Map.empty
        else """"([A-Za-z0-9_]+)"\s*:\s*([0-9.Ee+-]+)""".r.findAllMatchIn(text)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    final case class Adjudicated(name: String, best: Double,
        contended: Boolean, firstPass: Option[Double], remeasure: Option[Double],
        stillSlow: Boolean)
    // Drift normalization (see driftDivisor): each measured time is divided
    // by the calibration drift BEFORE the gate compare, so a uniformly-slow
    // box (the 0.70x-1.33x swings that cost rounds 9 and 10 an adjudication
    // each) doesn't trip the tightened 2x gate across the board, while a
    // single genuinely-regressed query still does.
    val par = spark.sparkContext.defaultParallelism
    // a ref recorded on a different host shape makes the drift ratio
    // meaningless — disable it LOUDLY rather than silently skewing gates
    val calibRef = calibRefFor(ref, par)
    if (calibRef.isEmpty && ref.contains(CalibrationKey))
      System.err.println(s"[bench] WARNING: bench_ref calibration ran on " +
        s"${ref(CalibrationParKey).toInt} cores, this host has $par — " +
        "drift normalization disabled; re-record bench_ref on this host")
    val drift = driftDivisor(calibNow, calibRef)
    if (drift > 1.0)
      System.err.println(f"[bench] drift divisor $drift%.3f " +
        f"(calib now ${calibNow.getOrElse(-1.0)}%.3f vs ref ${ref.getOrElse(CalibrationKey, -1.0)}%.3f)")
    val adjudicated = results.map { case (name, fn, t) =>
      val gate = ref.get(name).map(suspectGate)
      val suspect = t >= 0 && gate.exists(t / drift > _)
      if (!suspect) Adjudicated(name, t, contended = false, None, None, stillSlow = false)
      else {
        val t2 = try math.min(runOnce(fn), runOnce(fn))
        catch { case _: Throwable => t }
        System.gc()
        val best = math.min(t, t2)
        val contended = math.max(t, t2) > 2 * best
        // keep-min can mask a real regression: if even the best time still
        // trips the gate, surface it instead of absorbing it
        val stillSlow = gate.exists(best / drift > _)
        System.err.println(
          f"[bench] $name%-28s re-measured: $t%9.3f -> $t2%9.3f s (ref ${ref(name)}%.3f)" +
            (if (stillSlow) "  STILL-SLOW" else ""))
        Adjudicated(name, best, contended, Some(t), Some(t2), stillSlow)
      }
    }

    def strArr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = adjudicated.map(a => "\"" + a.name + "\":" + a.best).mkString("{", ",", "}")
    val valid = adjudicated.filter(_.best >= 0)
    val total = valid.map(_.best).sum
    val batchTotal = valid.filterNot(a => isStreamingReplay(a.name)).map(_.best).sum
    val streamingTotal = valid.filter(a => isStreamingReplay(a.name)).map(_.best).sum
    val remeasuredJson = adjudicated.collect {
      case Adjudicated(n, _, _, Some(t1), Some(t2), _) =>
        // [first-pass time, re-measure time]; min is what `queries` reports
        s""""$n":[$t1,$t2]"""
    }.mkString("{", ",", "}")
    val failed = failedQueries(adjudicated.map(a => a.name -> a.best))
    val gaps = refGaps(results.map(_._1), ref)
    if (gaps.nonEmpty)
      System.err.println(s"[bench] WARNING: no bench_ref entry for ${gaps.mkString(", ")} — " +
        "contention defense cannot adjudicate these; refresh bench_ref.json")
    val calibJson = s"""{"now":${calibNow.getOrElse(-1.0)},""" +
      s""""ref":${ref.getOrElse(CalibrationKey, -1.0)},"drift_divisor":$drift,""" +
      s""""parallelism":$par}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""batch_total":$batchTotal,"streaming_replay_total":$streamingTotal,""" +
      s""""queries":$qs,"failed":${strArr(failed)},"contended":${strArr(adjudicated.filter(_.contended).map(_.name))},""" +
      s""""still_slow":${strArr(adjudicated.filter(_.stillSlow).map(_.name))},""" +
      s""""remeasured":$remeasuredJson,"ref_missing":${strArr(gaps)},""" +
      s""""calibration":$calibJson,"sf":"$sfDir"}"""
    println(line)
    // sbt prefixes stdout with [info], which broke the driver's JSON parse in
    // round 1 ("parsed": null) — also write the line to a file it can read.
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
