package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Mirrors the reference's session setup (/root/reference/spark-streaming.py:112-126:
  * app name, shuffle-partition override, graceful streaming shutdown) but tuned for
  * the local[N] test envelope while staying cluster-shaped: every config here is one
  * a 1000-executor deployment would also set (AQE on, UTC, sane shuffle parallelism)
  * rather than local-only hacks.
  */
object GraftSession {

  /** Default parallelism: match local cores (the driver runs local[32]); on a real
    * cluster this would be ~2-3x total executor cores. AQE coalesces down at runtime
    * so erring high is safe at scale.
    */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Scratch for shuffle blocks and spill files (`spark.local.dir`).
    * Principle (guide-of-record §6): local dirs belong on the FASTEST
    * local storage available — on a production node that is the NVMe
    * array; in this sandbox java.io.tmpdir is ext4 on a virtual disk
    * while /dev/shm is a 128 GiB tmpfs. r18 re-litigated this default
    * both ways at matched calibration: with the hash-distributed lake
    * write shape (which routes every staged lake write through one small
    * exchange) an ext4 local.dir regressed the lake-sink streaming rows
    * 15–80% while tmpfs kept them at their best — the per-batch shuffle
    * round-trip sits on the hot path, so it belongs on the fast device;
    * the spill rows (q34/d12) also prefer tmpfs (r17's A/B). The tmpfs
    * default is gated by [[hasSpillHeadroom]] — tmpfs spill is RAM, so a
    * box whose shm is small or mostly consumed degrades to the
    * disk-backed JVM tmpdir instead of OOM-killing the first
    * 100 TB-shaped spill. Parameterised via SPARK_GRAFT_LOCAL_DIR so a
    * deployment points it at its own disks (an explicit env always
    * wins). Spark creates per-app subdirectories and removes them on
    * shutdown, so shared use across concurrent JVMs is safe.
    */
  def localDir: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)
        && hasSpillHeadroom(shm))
      "/dev/shm/graft_spark_local"
    else System.getProperty("java.io.tmpdir")
  })

  /** Minimum usable bytes a tmpfs must offer before the DEFAULT local.dir
    * lands on it. tmpfs spill is RAM: a box whose /dev/shm is mostly
    * consumed (other tenants, leaked scratch, a small shm mount) must
    * degrade to the disk-backed JVM tmpdir instead of OOM-killing the
    * first 100 TB-shaped spill. 8 GiB covers every spill this engine's
    * local envelope produces by two orders of magnitude while still
    * refusing cgroup-style 64 MiB shm mounts; an explicit
    * SPARK_GRAFT_LOCAL_DIR always wins over the guard.
    */
  private[graft] val ShmMinFreeBytes: Long = 8L << 30

  /** Whether `p`'s file store has at least [[ShmMinFreeBytes]] usable —
    * unreadable stores fail CLOSED (disk fallback), never by throwing.
    */
  private[graft] def hasSpillHeadroom(p: java.nio.file.Path): Boolean =
    try java.nio.file.Files.getFileStore(p).getUsableSpace >= ShmMinFreeBytes
    catch { case scala.util.control.NonFatal(_) => false }

  /** Runs `body` on an isolated child of `spark` whose SQL conf is every
    * modifiable runtime setting of the caller plus `overrides`. The child
    * shares the SparkContext, cache and catalog but owns its SQLConf, so an
    * override never leaks into a query running concurrently on `spark`
    * and nothing needs restoring afterwards. A stream started from the
    * child plans every micro-batch under the child's conf; static frames
    * of the caller may still be joined into it. (A child that starts a
    * stream leaves its small, empty query-listener bus registered on the
    * shared SparkContext — Spark never unregisters it.)
    */
  def withConf[T](spark: SparkSession, overrides: (String, String)*)(
      body: SparkSession => T): T = {
    val child = spark.newSession()
    (spark.conf.getAll.filter { case (k, _) => spark.conf.isModifiable(k) } ++ overrides)
      .foreach { case (k, v) => child.conf.set(k, v) }
    body(child)
  }

  def builder(master: String = s"local[$cpus]"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.local.dir", localDir)
      // Per-job commit-protocol overhead: the streaming replay sinks run one
      // tiny write job per micro-batch, so the protocol's fixed costs are a
      // measured slice of the per-batch floor (OPTIMIZATION_r18.md item 3).
      // v2 commits task output directly at task commit — no job-commit
      // rename pass over _temporary — and _SUCCESS markers are dead weight
      // for directories nothing polls. Both safe here: every writer in this
      // engine either owns its output dir exclusively (per-batch b<id>
      // dirs, mode=overwrite) or stages invisibly and publishes by rename
      // (the lake sinks), so v2's weaker mid-job-failure visibility is
      // behind an atomic publish anyway.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.streaming.stopGracefullyOnShutdown", "true")
      .config("spark.ui.enabled", "false")

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
