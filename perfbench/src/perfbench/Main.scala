package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.{JArray, JBool, JDouble, JInt, JLong, JString, JValue}

/** One workload's measured phase: inputs and warm-up, the timed region,
  * then the correctness checks, which run outside the timed region.
  */
trait WorkloadRun {
  /** Generates the inputs and warms up; repeated, each time in a new session. */
  def setup(): Unit
  /** The timed region: runs for the configured seconds. */
  def timed(workloadSpan: Long): Unit
  /** Correctness checks and the metrics derived from the timed region. */
  def checkAndReport(stats: Option[SparkStats]): Unit
}

/** Benchmark JVM entry point: one workload, traced or not. Run through
  * `perfbench/run.py`, which builds the engine and the benchmark from source
  * and checks the DuckDB oracles. A traced run times the region twice in
  * this JVM, traced and then untraced, to price the tracing (see [[run]]).
  *
  * Args: `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>`.
  */
object Main {
  /** Set-up repetitions per phase; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload; known: ${Workloads.names.mkString(", ")}")
    val work = Paths.get(opt("work")).toAbsolutePath
    val outFile = Paths.get(opt("out")).toAbsolutePath
    val tracer = if (opt("trace") == "1") Some(new Tracer) else None
    val (res, traced) = run(workload, opt("seed").toLong, opt("seconds").toDouble, work.resolve("phase"), tracer)
    val out = (tracer, traced) match {
      case (Some(t), Some(tr)) =>
        // set-up is never traced (the listeners attach after it), so its overhead is not reported
        res.endToEnd.foreach { case (k, m) =>
          if (k != "setup_s") tr.layers(s"trace_overhead.$k") = Metric(tr.endToEnd(k).value - m.value, m.unit)
        }
        // the single-thread baseline of the paper's pipeline (profile_ingest only)
        val local1 =
          if (workload == "profile_ingest") ProfileIngest.local1RowsPerS(work.resolve("local1"), tr)
          else 0.0
        tr.layers("spark.local1_ingest_rows_per_s") = Metric(local1, "rows/s")
        val (spans, table) = t.finish(fallbackParent = 0L)
        render(workload, opt, res, Some(tr), spans, table, outFile)
      case _ => render(workload, opt, res, None, Nil, Map.empty, outFile)
    }
    Files.write(outFile, out.getBytes(StandardCharsets.UTF_8))
  }

  def newSession(dir: Path, master: String = s"local[${graft.core.GraftSession.cpus}]",
      countFsOps: Boolean = false): SparkSession = {
    val b = graft.core.GraftSession.builder(master)
    if (countFsOps) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.log.level", "WARN")
      // keep every micro-batch's progress: the batch latencies are read from it
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.streams.active.foreach(q => scala.util.Try(q.stop()))
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def log(msg: String): Unit =
    System.err.println(s"[perfbench] ${java.time.LocalTime.now()} $msg")

  /** Heap still in use after a full collection: what the timed region left live. */
  def liveHeapMb(): Double = {
    System.gc()
    // Spark's ContextCleaner frees broadcast and shuffle blocks only once a
    // collection has dropped their last reference, on its own thread
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident memory of this JVM in MiB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Set-up three times, then the timed region and its checks. With a
    * tracer, the timed region runs twice in the same session: traced first,
    * so the per-layer numbers come from the region that follows set-up as
    * in an untraced run, then untraced, to price the tracing. The second
    * region runs warmer, so the overhead errs high.
    */
  def run(workload: String, seed: Long, seconds: Double, dir: Path, tracer: Option[Tracer])
      : (PhaseResult, Option[PhaseResult]) = {
    val res = new PhaseResult
    val ctx = new Ctx(workload, seed, seconds, dir, None, res)
    val traced = tracer.map(t => new Ctx(workload, seed, seconds, dir, Some(t), new PhaseResult))
    Files2.deleteRecursively(dir)
    Files.createDirectories(dir)
    try {
      val setupS = (1 to SetupReps).map { rep =>
        val t0 = System.nanoTime()
        ctx.spark = newSession(dir, countFsOps = tracer.isDefined)
        log(s"setup $rep: session started")
        Workloads.make(ctx).setup()
        val dt = (System.nanoTime() - t0) / 1e9
        log(f"setup $rep: done in $dt%.2f s")
        if (rep < SetupReps) stopSession(ctx.spark)
        dt
      }
      traced.foreach(tc => region(tc, setupS))
      region(ctx, setupS)
    } catch {
      case e: Throwable =>
        res.correct = false
        res.fail(s"$workload.run", res.describe(e))
        e.printStackTrace()
    } finally {
      if (ctx.spark != null) stopSession(ctx.spark)
      Files2.deleteRecursively(dir)
    }
    (res, traced.map(_.result))
  }

  /** One timed region of a fresh workload instance over the set-up inputs, then its checks. */
  private def region(ctx: Ctx, setupS: Seq[Double]): Unit = {
    val res = ctx.result
    val tracer = ctx.tracer
    ctx.spark = SparkSession.active
    val run = Workloads.make(ctx)
    tracer.foreach(_.attach(ctx.spark))
    CountingLocalFileSystem.enabled = tracer.isDefined
    val w0 = System.currentTimeMillis().toDouble
    val wlStart = tracer.map(_.nowMs).getOrElse(0.0)
    val runId = tracer.map(_.newId()).getOrElse(0L)
    val wlId = tracer.map(_.newId()).getOrElse(0L)
    log(s"timed region${if (tracer.isDefined) " (traced)" else ""}: start")
    run.timed(wlId)
    val w1 = System.currentTimeMillis().toDouble
    log("timed region: end")
    CountingLocalFileSystem.enabled = false
    val liveMb = liveHeapMb()
    val stats = tracer.map { t =>
      t.spans.add(Span(wlId, runId, "run", "bench", "workload", wlStart, t.nowMs))
      t.detach(ctx.spark)
    }
    run.checkAndReport(stats)
    log("checks: done")
    tracer.foreach(t => t.spans.add(Span(runId, 0L, "run", "bench", "run", wlStart, t.nowMs)))
    res.endToEnd("setup_s") = Metric(Stats.median(setupS), "s")
    res.endToEnd("live_heap_mb") = Metric(liveMb, "MiB")
    res.report("setup_s") = res.endToEnd("setup_s")
    res.report("peak_rss_mb") = Metric(peakRssMb(), "MiB")
    res.report("live_heap_mb") = res.endToEnd("live_heap_mb")
    val attempted = math.max(1L, res.attempted)
    res.report("fail_ratio") = Metric(res.failures.size.toDouble / attempted, "ratio", Some(attempted.toInt))
    stats.foreach { st =>
      val keep = (j: st.Job) => j.start >= w0 && j.start <= w1
      val tot = st.totals(keep)
      val l = res.layers
      l("spark.planning_ms") = Metric(tracer.get.planningMs.sum, "ms")
      l("spark.jobs") = Metric(st.jobs.values.asScala.count(keep).toDouble, "count")
      l("spark.tasks") = Metric(tot.tasks.toDouble, "count")
      l("spark.executor_run_ms") = Metric(tot.runMs, "ms")
      l("spark.executor_cpu_ms") = Metric(tot.cpuMs, "ms")
      l("spark.gc_ms") = Metric(tot.gcMs, "ms")
      l("spark.shuffle_write_bytes") = Metric(tot.shuffleWriteBytes.toDouble, "B")
      l("spark.spill_bytes") = Metric(tot.spillBytes.toDouble, "B")
      l("spark.driver_only_ms") = Metric(st.idleMs(w0, w1, keep), "ms")
    }
  }

  /** The host shape every result is recorded with. */
  def hostShape(): Seq[(String, JValue)] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val xmx = rt.getInputArguments.asScala.filter(_.startsWith("-Xmx")).lastOption.getOrElse("(default)")
    val envLocal = sys.env.get("SPARK_LOCAL_DIRS")
    Seq(
      "nproc" -> JInt(Runtime.getRuntime.availableProcessors),
      "spark_graft_cpus" -> JString(sys.env.getOrElse("SPARK_GRAFT_CPUS", "(unset)")),
      "xmx" -> JString(xmx),
      // SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
      "spark_local_dir" -> JString(envLocal.getOrElse(graft.core.GraftSession.localDir)),
      "spark_local_dirs_env" -> JString(envLocal.getOrElse("(unset)")),
      "spark_version" -> JString(org.apache.spark.SPARK_VERSION),
      "jdk" -> JString(System.getProperty("java.version")))
  }

  private def metrics(m: Iterable[(String, Metric)]): JValue = Json.obj(m.map { case (k, v) =>
    k -> Json.obj(Seq("value" -> Json.num(v.value), "unit" -> JString(v.unit)) ++
      v.samples.map(n => "samples" -> JInt(n)))
  })

  def render(workload: String, opt: Map[String, String], res: PhaseResult, traced: Option[PhaseResult],
      spans: Seq[Span], selfTime: Map[String, (Double, Int)], outFile: Path): String = {
    val phases = res +: traced.toSeq
    val traceFiles = if (spans.isEmpty) Nil else {
      val spansFile = outFile.resolveSibling("spans.jsonl")
      Files.write(spansFile, spans.sortBy(s => (s.start, s.id)).map(Tracer.toJson).asJava, StandardCharsets.UTF_8)
      Seq("spans" -> JString(spansFile.toString))
    }
    Json.render(Json.obj(Seq(
      "workload" -> JString(workload),
      "seed" -> JLong(opt("seed").toLong),
      "seconds" -> JDouble(opt("seconds").toDouble),
      "host" -> Json.obj(hostShape()),
      "correct" -> JBool(phases.forall(_.correct)),
      "attempted" -> JLong(phases.map(_.attempted).sum),
      "failures" -> JArray(phases.flatMap(_.failures).map(JString(_)).toList),
      "end_to_end" -> metrics(res.endToEnd),
      "report" -> metrics(res.report),
      "per_layer" -> metrics(traced.map(_.layers).getOrElse(Nil)),
      "self_time" -> Json.obj((Tracer.Layers ++ (selfTime.keySet -- Tracer.Layers).toSeq.sorted).map { l =>
        val (ms, n) = selfTime.getOrElse(l, (0.0, 0))
        l -> Json.obj(Seq("self_ms" -> Json.num(ms), "spans" -> JInt(n)))
      }),
      // both regions check the same set-up outputs: the oracle runs once per query
      "oracle" -> JArray(phases.flatMap(_.oracle).distinctBy(_._1).map { case (name, sql, out, corpus) =>
        Json.obj(Seq("name" -> JString(name), "sql" -> JString(sql), "out" -> JString(out),
          "corpus" -> JString(corpus)))
      }.toList)
    ) ++ traceFiles))
  }
}

object Workloads {
  val names: Seq[String] = Seq("profile_ingest", "lake_stream", "curation_batch")

  def make(ctx: Ctx): WorkloadRun = ctx.workload match {
    case "profile_ingest" => new ProfileIngest(ctx)
    case "lake_stream" => new LakeStream(ctx)
    case "curation_batch" => new CurationBatch(ctx)
  }
}
