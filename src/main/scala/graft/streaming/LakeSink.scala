package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, to_date}
import org.apache.spark.sql.types.{DateType, StructType}

import graft.core.Layout

/** Streaming sink → partitioned lake layout.
  *
  * ReplayHarness's oracle sink writes flat per-batch directories (the right
  * shape for hash-compared replays); a production deployment appends into a
  * date-partitioned table and periodically compacts, because a micro-batch
  * cadence of minutes lays down hundreds of small files per day and every
  * downstream scan then pays per-file open/footer costs (see
  * [[graft.core.Layout]]). This is that sink: a foreachBatch closure that
  *
  *   1. derives `event_date` from the event-time column and appends
  *      Hive-partitioned (`event_date=YYYY-MM-DD/`) parquet — so the f4-style
  *      partition-pruned read path applies to the lake as written;
  *   2. is EXACTLY-ONCE per micro-batch under crash-replay, with no
  *      data-before-marker window: the batch is first written under
  *      `_staging/b<batchId>/` (underscore-prefixed — invisible to readers),
  *      then COMMITTED by renaming each staged file into its leaf under a
  *      deterministic per-batch name (`gb<batchId>-p<k>.parquet`) and only
  *      then writing the committed-batch ledger marker
  *      (`_graft_commits/<batchId>`). A replay of an uncommitted batch first
  *      DELETES any `gb<batchId>-*` files a crashed attempt left in the
  *      leaves it touches, then renames its fresh staging in — so a crash at
  *      ANY instant (mid-stage, mid-commit, pre-marker, pre-staging-cleanup)
  *      recovers to exactly one copy of every row, given Spark's
  *      deterministic-replay contract (same batchId → same rows, which the
  *      file/Kafka sources honor). What remains non-atomic is only reader
  *      VISIBILITY: a reader listing the lake mid-commit can see a prefix of
  *      the in-flight batch's files (never a torn file, never another
  *      batch's rows) — the caveat a manifest-based table format exists to
  *      remove;
  *   3. every `compactEvery` batches, rewrites any partition holding >=
  *      `minFilesToCompact` files through [[Layout.compactParquet]] at the
  *      target file size and swaps it into place (rename-aside + rename-in —
  *      crash-safe for the single-writer streaming job this is). Concurrent
  *      reader behavior during a swap is MEASURED, not assumed
  *      (LakeSinkSpec's reader-race test, 72 swaps under a tight read
  *      loop): a racing read either returns the full, duplicate-free
  *      result or fails LOUDLY with a listing/scan error to retry —
  *      never duplicates (at no instant are original and rewrite both
  *      under the root), never a torn leaf, and in practice not even
  *      whole-leaf absence (the listing→open race throws before a partial
  *      result can materialize). The theoretical anomaly that remains is
  *      transient whole-leaf absence for a reader whose listing lands
  *      exactly between the two renames; removing the error-and-retry
  *      class entirely is what manifest-based table formats are for.
  *
  * At 100 TB/day the numbers work like this: one day ≈ one partition family,
  * compaction touches only partitions the recent batches dirtied (the
  * listing is per-leaf, never a full-table scan), and each rewrite is
  * [[Layout.compactParquet]]'s single measured-size shuffle — the bounded
  * standing maintenance cost that keeps scan-side file counts O(bytes /
  * targetFileBytes) forever.
  */
object LakeSink {

  /** The foreachBatch closure. `compactEvery <= 0` disables compaction.
    *
    * Sweep scope: each sink instance tracks the partitions its OWN appends
    * dirtied since the last sweep (read straight off the staged write's
    * leaf listing — the same per-commit partition-values bookkeeping every
    * transactional lake format does) and compacts ONLY those, so a sweep
    * costs O(dirtied leaves), never O(all leaves): against a lake with
    * years of date partitions on an object store, listing every leaf per
    * sweep would be thousands of LIST calls for a handful of dirty dates.
    * The dirty set is DURABLE across restarts: each commit marker records
    * the leaves its batch touched, and a completed sweep advances
    * `_graft_commits/_sweep_horizon`; a fresh instance rebuilds its dirty
    * set from the markers above the horizon, so leaves dirtied just before
    * a crash are still scope-compacted by the successor instead of waiting
    * for the scheduled FULL sweep (`compactPartitions(..., only = None)`)
    * — which remains the documented backstop (e.g. for markers already
    * pruned by [[vacuum]]'s ledger bound); compaction is opportunistic
    * maintenance, never a correctness dependency.
    *
    * SINGLE-WRITER FENCE: the sink assumes exactly one live writer per
    * `lakeDir` — the same discipline every transactional lake format
    * enforces — and now ENFORCES it with an epoch token: each instance's
    * first batch atomically creates `_graft_writer/<epoch>` (epoch = max
    * existing + 1; create-no-overwrite is the FS primitive that makes the
    * claim exclusive), and every subsequent mutation point re-validates
    * that no higher epoch exists. A zombie instance — an old driver
    * surviving a failover, or a misconfigured second job — fails LOUDLY
    * with the fencing error instead of interleaving staged commits with
    * the live writer undetected. The fence's residual check-then-act
    * window is closed at the COMMIT POINT by the atomic commit exchange
    * ([[writeCommitMarker]]: marker creation is create-no-overwrite, so
    * two racers cannot both mark one batch committed — the
    * optimistic-concurrency discipline à la Delta/Iceberg, from FS
    * primitives) and shrunk to a per-leaf instant inside compaction by
    * the pre-swap re-validation (see [[compactPartitions]]); between
    * those two, a race costs at most one batch of idempotent renames
    * under deterministic per-batch file names, never a double commit.
    *
    * `faultInjector(batchId, point)` is the crash-simulation hook the
    * crash-matrix tests and the st39 replay drive — a production caller
    * leaves the default no-op. Points: `"staged"` (batch materialized
    * under staging, nothing visible), `"committed:<leaf>"` (that leaf's
    * files renamed in, later leaves not yet), `"pre-marker"` (all data
    * visible, ledger marker not yet written).
    */
  def datePartitioned(
      lakeDir: String,
      tsCol: String = "ts",
      compactEvery: Long = 10L,
      targetFileBytes: Long = 128L << 20,
      minFilesToCompact: Int = 4,
      statsCols: Seq[String] = Nil,
      faultInjector: (Long, String) => Unit = (_, _) => ()): (DataFrame, Long) => Unit = {
    val dirty = scala.collection.mutable.Set.empty[String]
    var epoch = -1L // unacquired until the instance's first batch
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val (root, fs) = lakeFs(spark, lakeDir)
      if (epoch < 0) {
        epoch = acquireWriterEpoch(fs, root)
        // restart recovery: re-scope the sweep to everything committed
        // since the last completed sweep — the in-memory set a crashed
        // predecessor lost is reconstructed from its own markers
        dirty ++= rebuildDirtySet(fs, root)
        if (dirty.nonEmpty) System.err.println(
          s"[lake] writer epoch $epoch rebuilt dirty set from the ledger: " +
            dirty.toSeq.sorted.mkString(", "))
      }
      checkWriterFence(fs, root, epoch)
      val marker = markerPath(root, batchId)
      if (fs.exists(marker)) {
        // restart-from-checkpoint replay of an already-committed batch:
        // the ledger makes the WRITE a no-op (this exact path is what keeps
        // the lake duplicate-free across the st10/st27-style kill+restart) —
        // but a STATEFUL batch must still be CONSUMED: when the upstream is
        // e.g. a watermarked window agg, the replayed micro-batch is what
        // re-loads and re-commits every state store partition; skipping the
        // action entirely commits zero partitions and Spark 4's commit
        // validation aborts the query with
        // STATE_STORE_COMMIT_VALIDATION_FAILED. A full-partition noop write
        // materializes the plan (state commits) without touching the lake.
        // A STATELESS batch has no stores to commit, so the replay skips
        // the re-read entirely (detected off the planned micro-batch — the
        // r13-accepted full-re-read tax on stateless upstreams, removed);
        // a non-streaming caller (batch backfill through the same closure)
        // has no state either and skips likewise.
        if (hasStatefulOperator(batch))
          batch.write.format("noop").mode("overwrite").save()
        else System.err.println(
          s"[lake] batch $batchId already committed and upstream is " +
            "stateless — skipping the replay re-read")
        // A crash between marker and staging cleanup leaves the staged
        // copy behind — reclaim it here, where the marker proves it stale
        fs.delete(stagingDir(root, batchId), true)
        System.err.println(s"[lake] batch $batchId already committed, skipping write")
      } else {
        // schema validation + registration before any data movement (see
        // [[registerSchemaIfWidened]]): a narrowing batch dies loudly with
        // the lake untouched — a poison batch, but a visible one
        registerSchemaIfWidened(fs, root, batchId, batch.schema)
        // STAGE + COMMIT ([[stageAndCommit]]); the committed leaf list
        // doubles as the dirty-set bookkeeping (a null event time stages
        // under Hive's default-partition leaf, which this records by its
        // real name)
        val committed = stageAndCommit(fs, root, batch, tsCol, batchId, epoch,
          statsCols, () => faultInjector(batchId, "staged"),
          leaf => faultInjector(batchId, s"committed:$leaf"))
        dirty ++= committed
        // the second visibility edge: the marker makes the batch
        // "committed" to every replay decision after it
        checkWriterFence(fs, root, epoch)
        faultInjector(batchId, "pre-marker")
        // the marker IS the commit point, written create-no-overwrite (the
        // atomic commit exchange — see [[writeCommitMarker]]); its CONTENT
        // is the committed leaf list a successor's dirty-set rebuild reads
        writeCommitMarker(fs, marker, batchId, committed)
        fs.delete(stagingDir(root, batchId), true)
      }
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
        checkWriterFence(fs, root, epoch)
        compactPartitions(spark, lakeDir, targetFileBytes, minFilesToCompact,
          only = Some(dirty.toSet), fenceEpoch = Some(epoch),
          statsCols = statsCols)
        // horizon AFTER the sweep completes: a crash in between re-sweeps
        // (idempotent) rather than silently skipping the lost leaves
        writeSmallFile(fs, new Path(ledgerDir(root), SweepHorizonFile),
          batchId.toString)
        dirty.clear()
      }
  }

  /** Staged-write layout: ASK for the batch hash-distributed by its
    * partition key before the partitioned write (guide §6 — the Iceberg
    * `write.distribution-mode=hash` / REBALANCE-before-write shape).
    * Without it every upstream task writes its own file into every date
    * leaf it touches — (tasks × dates) small files per batch, each one a
    * placement rename at commit, a footer read when stats are recorded,
    * and a per-file open for every later scan, compaction, merge and
    * purge. With it a batch lays down O(dates) right-sized files, and AQE
    * both coalesces the small per-date partitions at replay scale and
    * SPLITS a skewed hot date at production scale.
    *
    * The hint is only a request: Spark resolves REBALANCE only while AQE
    * is on. AQE is on in [[graft.core.GraftSession]] for batch callers
    * ([[appendBatch]], [[mergeInto]]'s inserts), but Spark runs stateful
    * micro-batches (dedup, window aggregation, stream joins — the
    * `lake_stream` benchmark's dedup upstream among them) with AQE off.
    * There the hint is dropped with an `Unrecognized hint` warning and
    * the staged write keeps the upstream's partitioning: one file per
    * task and date leaf, the small-file shape described above.
    */
  private def stagedLeafShape(dated: DataFrame): DataFrame =
    dated.hint("rebalance", col("event_date"))

  /** Whether the micro-batch carries state-store work (window agg, dedup,
    * join state, transformWithState, …) — the condition under which a
    * committed-batch replay must still be materialized so every store
    * partition loads and commits. The foreachBatch DataFrame is NOT the
    * incremental plan (Spark hands an RDDScanExec over the incremental
    * execution's output RDD), so the stateful operators are only visible
    * in that RDD's DEPENDENCY LINEAGE: walk it for the state-store RDDs
    * (`BaseStateStoreRDD` for aggs/dedup/arbitrary state,
    * `StateStoreAwareZipPartitionsRDD` for stream-stream joins — matched
    * by name so one trait move in Spark can't silently flip the detector
    * to a false NEGATIVE... a miss here aborts the replay loudly with
    * STATE_STORE_COMMIT_VALIDATION_FAILED rather than corrupting data). A
    * batch whose leaves are not RDD handoffs was built by a direct batch
    * caller (backfill) — no streaming state by construction.
    */
  private[graft] def hasStatefulOperator(batch: DataFrame): Boolean = {
    val roots = batch.queryExecution.executedPlan.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.RDDScanExec => r.rdd
    }
    val seen = scala.collection.mutable.Set.empty[Int]
    val stack = scala.collection.mutable.Stack[org.apache.spark.rdd.RDD[_]](roots: _*)
    var found = false
    while (stack.nonEmpty && !found) {
      val r = stack.pop()
      if (seen.add(r.id)) {
        if (r.getClass.getName.contains("StateStore")) found = true
        else r.dependencies.foreach(d => stack.push(d.rdd))
      }
    }
    found
  }

  private val WriterRoot = "_graft_writer"
  private val SweepHorizonFile = "_sweep_horizon"
  private val LedgerRoot = "_graft_commits"
  private val StagingRoot = "_staging"
  private val TmpRoot = "_compact_tmp"
  private val LeafPrefix = "event_date="

  /** The lake root and the filesystem it lives on. */
  private def lakeFs(spark: SparkSession, lakeDir: String): (Path, FileSystem) = {
    val root = new Path(lakeDir)
    (root, root.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def ledgerDir(root: Path): Path = new Path(root, LedgerRoot)
  private def markerPath(root: Path, id: Long): Path = new Path(ledgerDir(root), id.toString)
  private def stagingDir(root: Path, b: Long): Path =
    new Path(new Path(root, StagingRoot), s"b$b")

  /** Children of `dir` named by a plain number (ledger ids, writer epochs,
    * history and deletion-vector generations, change records), in numeric
    * order; empty when `dir` does not exist.
    */
  private def numbered(fs: FileSystem, dir: Path): Seq[(Long, FileStatus)] =
    children(fs, dir).flatMap(s => idAfter(s.getPath.getName, "").map(_ -> s)).sortBy(_._1)

  /** The children of `dir`, empty when it does not exist: one LIST, no
    * separate existence probe.
    */
  private def children(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The id a child name `<prefix><digits>` carries (staging trees,
    * deletion-vector stages, schema versions, quarantine batches), or None
    * for any other name.
    */
  private def idAfter(name: String, prefix: String): Option[Long] = {
    val id = name.stripPrefix(prefix)
    if (name.startsWith(prefix) && id.nonEmpty && id.forall(_.isDigit)) Some(id.toLong) else None
  }

  /** Committed ids: the numeric marker files of `_graft_commits`, ascending. */
  private def ledgerIds(fs: FileSystem, root: Path): Seq[Long] =
    numbered(fs, ledgerDir(root)).collect { case (id, s) if s.isFile => id }

  /** One retained `_graft_history/<horizon>` generation: its directory and
    * the leaf names it stores.
    */
  private final case class HistGen(horizon: Long, dir: Path, leaves: Set[String])

  /** HISTORY INDEX: every retained generation, ascending by horizon, each
    * listed ONCE into its leaf set. Every history resolver answers from it
    * ([[readAsOf]], [[tailCommits]], [[tailChanges]], [[restoreTo]]'s
    * history-only leaves, [[vacuum]]'s deletion-vector liveness,
    * [[purgeKeys]]' erasure) instead of re-listing a generation or probing
    * it per leaf: per-leaf probes cost O(leaves × generations) metadata
    * RPCs per read, expensive on object stores for lakes with long
    * restore/compaction history.
    */
  private def historyIndex(fs: FileSystem, root: Path): Seq[HistGen] =
    numbered(fs, new Path(root, HistoryRoot)).collect { case (b, s) if s.isDirectory =>
      HistGen(b, s.getPath, leafDirs(fs, s.getPath).map(_.getName).toSet)
    }

  /** The smallest stored horizon >= `minHorizon` that stores `leafName`.
    * It holds the leaf's state just before that rewrite, and every earlier
    * rewrite of the leaf has a smaller horizon, so it serves the snapshot
    * at `minHorizon - 1` ([[readAsOf]]) and still carries the append files
    * of batch `minHorizon` ([[tailCommits]]). None when no retained
    * generation stores the leaf that late.
    */
  private def servingGen(hist: Seq[HistGen], leafName: String, minHorizon: Long): Option[HistGen] =
    hist.find(g => g.horizon >= minHorizon && g.leaves(leafName))

  /** LINEAGE CODEC — the one place that formats and parses the commit
    * lineage a LakeSink data file name carries:
    *
    *   - `gb<id>-p<k>.snappy.parquet`: rows appended by commit `id`;
    *   - `gb<id>-w<writer>-p<k>.snappy.parquet`: rows an
    *     [[appendBatchOcc]] writer appended at commit `id`;
    *   - `gc<B>-p<k>.snappy.parquet`: a leaf rewrite (compaction, merge,
    *     purge, restore) stamped with horizon `B`, holding exactly the
    *     leaf's batches <= B.
    *
    * Any other name has no lineage (the file was not written by this sink).
    */
  private[graft] object Lineage {

    /** A parsed lineage name: a `gc` rewrite or a `gb` append, its id, and
      * the OCC writer for a writer-owned append.
      */
    final case class Parsed(rewrite: Boolean, id: Long, writer: Option[String])

    private val Name = """g([bc])(\d+)-(?:w([^-]+)-)?.*""".r

    /** Name prefix of commit `id`'s append files (every writer's). */
    def append(id: Long): String = s"gb$id-"

    /** Name prefix of OCC writer `writer`'s append files at commit `id`. */
    def occ(id: Long, writer: String): String = s"gb$id-w$writer-"

    /** Name prefix of a rewrite stamped with `horizon`. */
    def rewrite(horizon: Long): String = s"gc$horizon-"

    def parse(fileName: String): Option[Parsed] = fileName match {
      case Name(kind, id, writer) => Some(Parsed(kind == "c", id.toLong, Option(writer)))
      case _ => None
    }

    /** The lineage id of a data file PATH as a long column, null for a file
      * without lineage — for reads that filter the live tree by commit.
      */
    def idOf(path: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.regexp_extract(path, "/g[bc](\\d+)-", 1).cast("long")

    /** Rename `from`'s parquet parts into `to` as `<prefix>p<k>.snappy.parquet`,
      * in name order; returns the renamed files.
      */
    def place(fs: FileSystem, from: Path, to: Path, prefix: String): Seq[Path] =
      parquetFiles(fs, from).zipWithIndex.map { case (f, i) =>
        val dst = new Path(to, s"${prefix}p$i.snappy.parquet")
        require(fs.rename(f.getPath, dst), s"lineage rename failed: ${f.getPath} -> $dst")
        dst
      }
  }

  /** SCAN PATH — the one way lake files become a frame: `paths` (leaf
    * directories or data files) under `mount`, the directory holding their
    * `event_date=` leaves (the root, a history generation, a mid-swap
    * directory), passed as `basePath` so discovery keeps the partition
    * column (None reads bare leaves, without it); the declared `schema`
    * when the lake has one (files that predate a widening null-fill); and
    * the committed deletion vectors `dv` anti-applied on the direct file
    * scan, the only place `_metadata` resolves.
    */
  private def scanOf(
      spark: SparkSession,
      mount: Option[Path],
      paths: Seq[Path],
      schema: Option[StructType],
      dv: Option[DataFrame] = None): DataFrame = {
    val r = mount.fold(spark.read)(m => spark.read.option("basePath", m.toString))
    val files = schema.fold(r)(r.schema).parquet(paths.map(_.toString): _*)
    dv.fold(files)(applyDv(files, _))
  }

  /** [[scanOf]] over `(mount, file)` pairs from several mounts: partition
    * discovery needs one consistent depth per relation, so this is a
    * unionByName of one scan per mount (the mixed case a scoped sweep
    * creates, where only SOME leaves resolve from history — a
    * single-basePath listing would refuse the conflicting directory
    * depths).
    */
  private def scanMounts(
      spark: SparkSession,
      files: Seq[(Path, Path)],
      schema: Option[StructType],
      dv: Option[DataFrame] = None): DataFrame =
    files.groupBy(_._1).toSeq.sortBy(_._1.toString)
      .map { case (mount, fl) => scanOf(spark, Some(mount), fl.map(_._2).distinct, schema, dv) }
      .reduce(_ unionByName _)

  /** The `event_date=` leaf directories directly under `dir` (the root, a
    * history generation, a staging or sweep directory), by name; none when
    * `dir` does not exist.
    */
  private def leafDirs(fs: FileSystem, dir: Path): Seq[Path] =
    children(fs, dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(LeafPrefix))
      .map(_.getPath).sortBy(_.getName)

  /** The parquet data files directly under `dir`, by name. */
  private def parquetFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)

  /** Highest claimed writer epoch (0 when none). The listing is a single
    * LIST of a directory holding O(writer generations) tiny files —
    * bounded by [[vacuum]]'s pruning, not by stream lifetime.
    */
  private def maxWriterEpoch(fs: FileSystem, root: Path): Long =
    numbered(fs, new Path(root, WriterRoot))
      .collect { case (e, s) if s.isFile => e }.foldLeft(0L)(math.max)

  /** Claim the next writer epoch with create-no-overwrite (atomic on HDFS
    * and object stores with conditional put; best-effort on raw local FS).
    * Losing the creation race to a concurrent claimant just advances to
    * the next number — the LOSER of the overall fence is decided by
    * [[checkWriterFence]] at every later mutation, not here.
    */
  private def acquireWriterEpoch(fs: FileSystem, root: Path): Long = {
    val dir = new Path(root, WriterRoot)
    fs.mkdirs(dir)
    var e = maxWriterEpoch(fs, root) + 1
    var claimed = false
    while (!claimed) {
      try { fs.create(new Path(dir, e.toString), false).close(); claimed = true }
      catch { case _: java.io.IOException => e += 1 }
    }
    System.err.println(s"[lake] writer epoch $e acquired for $root")
    e
  }

  /** Claim the lake's next writer epoch for a STANDALONE maintenance run
    * ([[compactPartitions]] / [[vacuum]] outside the streaming sink): under
    * the single-writer discipline, maintenance IS the writer while it runs,
    * so it claims an epoch like any writer — fencing out a paused stream
    * driver that might otherwise wake mid-maintenance (and being fenced in
    * turn the moment the restarted stream claims its own). Pass the result
    * as `fenceEpoch`.
    */
  def claimWriterEpoch(spark: SparkSession, lakeDir: String): Long = {
    val (root, fs) = lakeFs(spark, lakeDir)
    acquireWriterEpoch(fs, root)
  }

  /** Fail loudly if a newer writer has claimed this lake. */
  private def checkWriterFence(fs: FileSystem, root: Path, epoch: Long): Unit = {
    val m = maxWriterEpoch(fs, root)
    if (m > epoch) throw new IllegalStateException(
      s"writer fenced: this sink holds epoch $epoch but epoch $m has been " +
        s"claimed for $root — a newer instance owns the lake; refusing to " +
        "interleave commits (zombie driver after a failover, or two jobs " +
        "configured onto one lakeDir)")
  }

  /** The epoch a one-shot verb writes under — the caller's claim, or a
    * fresh one acquired here (fencing out a paused stream writer: the verb
    * IS the writer while it runs) — validated before anything moves.
    */
  private def verbEpoch(fs: FileSystem, root: Path, fenceEpoch: Option[Long]): Long = {
    val epoch = fenceEpoch.getOrElse(acquireWriterEpoch(fs, root))
    checkWriterFence(fs, root, epoch)
    epoch
  }

  /** An opened one-shot verb: the lake root and its filesystem, the writer
    * epoch the verb holds, and the commit id it claims (`max committed + 1`).
    */
  private final case class Verb(root: Path, fs: FileSystem, epoch: Long, next: Long)

  /** VERB PROLOGUE shared by [[deleteVectors]], [[restoreTo]],
    * [[mergeInto]] and [[purgeKeys]]: open the lake and require it, refuse
    * a shallow clone (`cloneVerb` names the verb in the error; None for
    * [[cloneMerge]]'s own merge), claim or check the writer epoch
    * ([[verbEpoch]]), heal interrupted swaps ([[recoverSweeps]]), and
    * allocate the next commit id.
    */
  private def openVerb(
      spark: SparkSession,
      lakeDir: String,
      fenceEpoch: Option[Long],
      cloneVerb: Option[String]): Verb = {
    val (root, fs) = lakeFs(spark, lakeDir)
    require(fs.exists(root), s"no lake at $lakeDir")
    cloneVerb.foreach(requireNotClone(fs, root, _))
    val epoch = verbEpoch(fs, root, fenceEpoch)
    recoverSweeps(fs, root)
    Verb(root, fs, epoch, maxCommittedId(fs, root) + 1)
  }

  /** Rebuild the sweep scope a crashed writer lost: union of the leaf
    * lists recorded in every commit marker above the persisted sweep
    * horizon. Markers written before the leaf list existed (or pruned by
    * vacuum) contribute nothing — the full-sweep backstop covers them. A
    * TORN marker (no [[MarkerEnd]] sentinel: the content write crashed
    * after the commit exchange was won) names an unknown leaf set, so it
    * over-approximates to every live leaf — over-sweep, never skip; the
    * `minFilesToCompact` gate keeps the over-sweep a cheap listing pass on
    * leaves that turn out clean.
    */
  private def rebuildDirtySet(fs: FileSystem, root: Path): Set[String] = {
    val ids = ledgerIds(fs, root)
    if (ids.isEmpty) return Set.empty
    val horizon = {
      val p = new Path(ledgerDir(root), SweepHorizonFile)
      if (!fs.exists(p)) -1L
      else try readSmallFile(fs, p).trim.toLong
      catch { case scala.util.control.NonFatal(_) => -1L } // torn write: over-sweep, never skip
    }
    val perMarker = ids.filter(_ > horizon).map(id => readMarkerLeaves(fs, markerPath(root, id)))
    if (perMarker.exists(_.isEmpty)) {
      System.err.println(s"[lake] torn commit marker under ${ledgerDir(root)} — " +
        "over-approximating the rebuilt dirty set to every live leaf")
      leafDirs(fs, root).map(_.getName).toSet
    } else perMarker.flatMap(_.get).toSet
  }

  /** Trailing sentinel line of every commit marker: the marker's content is
    * load-bearing (the leaf list feeds [[rebuildDirtySet]]) but small-file
    * writes are not atomic — a crash mid-write must be DETECTABLE, so
    * completeness is proven by the sentinel, not by existence.
    */
  private[streaming] val MarkerEnd = "#end"

  /** First line of a MERGE commit's marker: the commit's files are leaf
    * REWRITES (`gc<id>`), not appends — consumers that serve appends by
    * lineage name ([[tailCommits]]) must treat it as a boundary, not
    * data. Written FIRST so even a torn content write usually keeps the
    * classification readable.
    */
  private[streaming] val MarkerRewrite = "#rewrite"

  /** First line of a DELETION-VECTOR commit's marker: the commit carries no
    * data files at all — its effect is the `_graft_dv/<B>/` sidecar that
    * read paths anti-apply. [[tailCommits]] must refuse it (nothing to tail;
    * the deletes would be silently dropped); [[tailChanges]] serves its
    * recorded pre-images.
    */
  private[streaming] val MarkerDv = "#dv"

  /** First line of a clone COPY-ON-WRITE commit's marker: the commit is
    * the snapshot-slice materialization that makes [[cloneMerge]]'s shadow
    * markers effective. The tag is what TIES shadow-marker validity to
    * this specific commit — a crashed cloneMerge's stale shadow markers
    * reference an id that a later PLAIN append may claim, and without the
    * tag that unrelated commit would activate the markers with no CoW
    * content behind them (clone reads would silently drop every source
    * row for the shadowed dates).
    */
  private[streaming] val MarkerCow = "#cow"

  /** First line of an [[appendWithExpectations]] commit's marker: the
    * commit's `_graft_quarantine/b<id>` rejects went through the gate.
    * [[readQuarantine]] serves ONLY tagged commits' quarantine dirs — an
    * orphaned quarantine write (crash between the quarantine write and
    * the live append) whose id is later claimed by a different verb must
    * not surface as committed rejects of a batch that never gated.
    */
  private[streaming] val MarkerExpect = "#expect"

  /** First line of an OPTIMISTIC-CONCURRENCY append's marker:
    * `#occ <writerId> [dedupKey]`. The writerId ties the commit to the
    * lineage names its files carry (`gb<id>-w<writerId>-…`) so a crashed
    * attempt's leftovers are distinguishable from committed data; the
    * optional dedupKey gives [[appendBatchOcc]] retries exactly-once
    * semantics without a pinned commit id (OCC ids float by design).
    */
  private[streaming] val MarkerOcc = "#occ"

  /** THE COMMIT EXCHANGE: the batch becomes committed exactly when its
    * ledger marker is CREATED, and creation is create-no-overwrite — the
    * same atomic FS primitive the writer fence uses, here closing the
    * fence's residual check-then-act window: two writers that both passed
    * their last fence validation and raced one batch's commit cannot both
    * win; the loser's create throws and this sink dies LOUDLY instead of
    * double-marking. Data stays exactly-once regardless of who wins:
    * deterministic replay gives both writers identical rows under identical
    * `gb<batchId>-*` names, so the surviving files are the winner's and the
    * loser renamed equivalent content over them before losing the exchange.
    *
    * A crash mid-content-write leaves an EXISTING marker with a truncated
    * leaf list — the batch is genuinely committed (every rename preceded
    * the marker), but the dirty-set bookkeeping would silently shrink;
    * [[MarkerEnd]] makes that torn state detectable and
    * [[rebuildDirtySet]] over-approximates it to every live leaf rather
    * than under-sweeping.
    */
  private def writeCommitMarker(
      fs: FileSystem, marker: Path, batchId: Long,
      leaves: Seq[String], markerTag: Option[String] = None): Unit = {
    val out =
      try fs.create(marker, false)
      catch { case e: java.io.IOException => throw new IllegalStateException(
        s"commit exchange lost for batch $batchId: marker $marker already " +
          "exists — a concurrent writer committed this batch first (two " +
          "writers raced the fence's check-then-act window); refusing to " +
          "double-commit, this instance must stop", e) }
    val tag = markerTag.toSeq
    val content = (tag ++ leaves.sorted :+ MarkerEnd).mkString("\n")
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The non-empty lines of a [[MarkerEnd]]-terminated file (commit marker,
    * stats sidecar, deletion-vector target manifest) before its sentinel,
    * or None when the content is torn — a crash interrupted the write, so
    * completeness is proven by the sentinel, never by existence.
    */
  private def readSealed(fs: FileSystem, p: Path): Option[Seq[String]] = {
    val lines = readSmallFile(fs, p).split('\n').toSeq
    if (lines.lastOption.contains(MarkerEnd)) Some(lines.dropRight(1).filter(_.nonEmpty))
    else None
  }

  /** A committed marker's leaf list (its tag line dropped), or None when
    * the content is torn.
    */
  private def readMarkerLeaves(fs: FileSystem, p: Path): Option[Seq[String]] =
    readSealed(fs, p).map(_.filterNot(_.startsWith("#")))

  /** The commit marker's first-line tag, if any — readable even off most
    * torn markers (the tag is written first; [[MarkerEnd]] alone means an
    * untagged empty-leaf-list marker, not a tag).
    */
  private def markerTagOf(fs: FileSystem, p: Path): Option[String] =
    readSmallFile(fs, p).split('\n').headOption
      .filter(l => l.startsWith("#") && l != MarkerEnd)

  /** Whether commit `id` has a marker tagged `tag`. */
  private def committedAs(fs: FileSystem, root: Path, id: Long, tag: String): Boolean = {
    val m = markerPath(root, id)
    fs.exists(m) && markerTagOf(fs, m).contains(tag)
  }

  /** The words after [[MarkerOcc]] in a commit marker's tag (`writerId
    * [dedupKey]`), or None when the marker is not an OCC commit's.
    */
  private def occTagOf(fs: FileSystem, p: Path): Option[Seq[String]] =
    markerTagOf(fs, p).map(_.split(' ').toSeq).collect { case MarkerOcc +: rest => rest }

  private def writeSmallFile(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The staged-commit step: for each leaf the staged batch holds, delete
    * the `<lineage>*` files a CRASHED attempt of this same batch may have
    * left in the target (the rollback that makes the commit idempotent),
    * then rename the staged files in under deterministic per-batch
    * [[Lineage]] names (`Lineage.append` for the single-writer verbs,
    * `Lineage.occ` for [[appendBatchOcc]]). Returns each
    * committed leaf name with the files renamed into it. Correctness leans
    * on Spark's deterministic-replay contract: a replayed batch carries the
    * same rows, so the leaves it stages are a superset of any crashed
    * attempt's — rollback by lineage prefix in exactly those leaves reaches
    * every orphan. `onCommitted(leaf)` fires once a leaf's renames are done.
    */
  private def commitStaged(
      fs: FileSystem,
      root: Path,
      staging: Path,
      lineage: String,
      onCommitted: String => Unit = _ => ()): Seq[(String, Seq[Path])] = {
    leafDirs(fs, staging).map { sLeaf =>
      val target = new Path(root, sLeaf.getName)
      fs.mkdirs(target)
      fs.listStatus(target)
        .filter(f => f.isFile && f.getPath.getName.startsWith(lineage))
        .foreach { f =>
          System.err.println(s"[lake] rolling back crashed-attempt file ${f.getPath.getName}")
          fs.delete(f.getPath, false)
        }
      val placed = Lineage.place(fs, sLeaf, target, lineage)
      onCommitted(sLeaf.getName)
      sLeaf.getName -> placed
    }
  }

  /** The staged APPEND commit every single-writer append verb shares
    * ([[datePartitioned]], [[appendBatch]], [[mergeInto]]'s inserts):
    * STAGE the rows invisibly under `_staging/b<b>` (underscore root)
    * already in their Hive leaf shape — mode=overwrite makes a replay of a
    * half-staged crash self-healing — then re-validate the fence at the
    * first visibility edge, [[commitStaged]] under `gb<b>-` lineage, and
    * record zone maps for exactly the files just renamed in (footer reads
    * only; before the caller's marker, so a crash here replays both
    * idempotently). Returns the committed leaves. The caller owns schema
    * registration, the second fence check, the marker and the staging
    * cleanup.
    */
  private def stageAndCommit(
      fs: FileSystem,
      root: Path,
      rows: DataFrame,
      tsCol: String,
      b: Long,
      epoch: Long,
      statsCols: Seq[String],
      onStaged: () => Unit = () => (),
      onCommitted: String => Unit = _ => ()): Seq[String] = {
    stagedLeafShape(rows.withColumn("event_date", to_date(col(tsCol))))
      .write.partitionBy("event_date").mode("overwrite")
      .parquet(stagingDir(root, b).toString)
    onStaged()
    checkWriterFence(fs, root, epoch)
    val committed = commitStaged(fs, root, stagingDir(root, b), Lineage.append(b), onCommitted)
    writeFileStats(fs, rows.sparkSession.sparkContext.hadoopConfiguration, root,
      b.toString, committed.flatMap { case (l, fl) => fl.map(l -> _) }, statsCols)
    committed.map(_._1)
  }

  /** Retention VACUUM — the third lifecycle verb after append and compact:
    *
    *   1. drops every `event_date=` leaf strictly OLDER than `before`
    *      (data retention; the cutoff is an explicit parameter, not
    *      wall-clock, so runs are deterministic and testable);
    *   2. heals interrupted compaction sweeps via [[recoverSweeps]] —
    *      restoring a renamed-aside original whose swap never completed,
    *      promoting a stranded rewrite whose target vanished, and only
    *      then deleting true orphans (a blind "delete everything under
    *      `_compact_tmp`" would reap the only copy of a partition whose
    *      swap crashed mid-way);
    *   3. reclaims `_staging/b<id>` trees whose commit marker exists — a
    *      crash between marker write and staging cleanup strands one; an
    *      UNmarkered staging tree is an in-flight batch the engine will
    *      replay (its overwrite reclaims it) and is left alone;
    *   4. prunes commit-ledger markers below `max marker − ledgerKeep`.
    *      Unbounded, the ledger grows one tiny file per micro-batch
    *      forever (a minutes-cadence stream is ~500k files/year — a real
    *      small-file problem on its own). Pruning old markers is safe
    *      because the engine can only ever replay the batches after its
    *      last checkpointed commit — a marker far older than the current
    *      batch id can never be consulted again; `ledgerKeep` just has to
    *      exceed the deepest possible replay window (1 under clean
    *      semantics; default 1000 is paranoid);
    *   5. bounds the TIME-TRAVEL window: pre-sweep generations under
    *      `_graft_history/` lose retention-expired leaves with the live
    *      leaf, and whole generations below the same `ledgerKeep` horizon
    *      are dropped (storage for deep snapshots is exactly what vacuum
    *      exists to reclaim — after this, [[readAsOf]] fails loudly for
    *      the pruned range instead of approximating);
    *   6. keeps only the top writer-epoch token (the fence consults only
    *      the max).
    *
    * Returns (dropped partition names, pruned marker count).
    *
    * `fenceEpoch` fences scheduled maintenance like the sweep: validated at
    * entry and re-validated after the healing pass, immediately before the
    * destructive sections — claim one via [[claimWriterEpoch]].
    *
    * `occReapGraceMs` is the Delta-vacuum-style retention horizon for the
    * two OCC reaps (abandoned `occ-` staging trees and unmarkered
    * `gb*-w*` live files): only artifacts whose mtime predates vacuum
    * entry by at least this window are reaped. The exclusive epoch does
    * NOT fence an OCC writer that entered AFTER the claim — it adopts the
    * claimed epoch as its sharedEpoch (st51 pins that adoption) and
    * passes every checkShared while vacuum runs — so a zero-grace reap
    * could delete a live writer's staging between its write and
    * placement (the writer would then commit an EMPTY marker carrying its
    * dedupKey, silently losing the batch) or its placed-but-unmarkered
    * files. The grace window exempts anything young enough to still be in
    * flight; a genuinely abandoned writer's leftovers age past it and are
    * reaped on the next run.
    */
  val OccReapGraceMs: Long = 15L * 60 * 1000

  def vacuum(
      spark: SparkSession,
      lakeDir: String,
      before: java.time.LocalDate,
      ledgerKeep: Long = 1000L,
      fenceEpoch: Option[Long] = None,
      occReapGraceMs: Long = OccReapGraceMs): (Seq[String], Int) = {
    val occReapHorizon = System.currentTimeMillis() - occReapGraceMs
    val (root, fs) = lakeFs(spark, lakeDir)
    if (!fs.exists(root)) return (Seq.empty, 0)
    requireNotClone(fs, root, "vacuum")
    fenceEpoch.foreach(e => checkWriterFence(fs, root, e))
    // heal BEFORE applying retention: healing after the drop would promote
    // a stranded rewrite of a partition retention just retired
    recoverSweeps(fs, root)
    fenceEpoch.foreach(e => checkWriterFence(fs, root, e))
    def expired(leafName: String): Boolean = {
      val d = leafName.stripPrefix(LeafPrefix)
      try java.time.LocalDate.parse(d).isBefore(before)
      catch { case _: java.time.format.DateTimeParseException => false }
    }
    val dropped = leafDirs(fs, root).filter(l => expired(l.getName)).map { l =>
      fs.delete(l, true)
      System.err.println(s"[lake] vacuumed ${l.getName}")
      l.getName
    }
    // ONE ledger listing serves every ledger-bounded step below (no step
    // before the marker pruning adds or removes a marker)
    val ids = ledgerIds(fs, root)
    // reclaim staged batches whose marker landed but whose cleanup crashed
    // (BEFORE marker pruning — the marker is the proof of staleness; an
    // unmarkered staging dir belongs to a batch the engine will replay and
    // is left for that replay's overwrite)
    val stagingRoot = new Path(root, StagingRoot)
    val marked = ids.toSet
    children(fs, stagingRoot).foreach { s =>
      if (idAfter(s.getPath.getName, "b").exists(marked)) {
        System.err.println(s"[lake] reclaiming committed staging ${s.getPath.getName}")
        fs.delete(s.getPath, true)
      } else if (s.getPath.getName.startsWith("occ-") &&
          s.getModificationTime < occReapHorizon) {
        // an OCC writer's staging lives only between its staging write and
        // placement. The exclusive epoch does NOT fence a writer that
        // entered after the claim (it adopts the epoch — see
        // occReapGraceMs above), so staleness is proved by AGE, not by
        // the fence: only a tree older than the grace window is reaped.
        System.err.println(s"[lake] reclaiming abandoned OCC staging ${s.getPath.getName}")
        fs.delete(s.getPath, true)
      }
    }
    // OCC leftovers in the LIVE tree: files an OCC writer placed but never
    // committed (crash between placement and marker). Normally its own
    // next call reaps them, but an ABANDONED writerId leaves a live
    // hazard — a future commit claiming that id would adopt the orphan
    // rows into its marker. A gb<id>-w<writer>- file survives iff marker
    // <id> exists AND carries that writer's #occ tag, OR it is younger
    // than the occReapGraceMs horizon (a concurrent writer that adopted
    // the maintenance epoch may have placed it seconds ago and not yet
    // marker-committed — reaping it would lose its committed rows). Ids
    // BELOW the ledger's retained floor are also exempt — their markers
    // were legitimately pruned by an earlier vacuum, so marker absence
    // there proves nothing (reaping them would destroy committed rows).
    // Marker presence is probed live, not off the listing above: such a
    // writer may land its marker while this pass runs.
    val ledgerFloor: Option[Long] = ids.headOption
    leafDirs(fs, root).foreach { leaf =>
      fs.listStatus(leaf).filter(_.isFile).foreach { f =>
        Lineage.parse(f.getPath.getName).filter(_.writer.nonEmpty).foreach { l =>
          val m = markerPath(root, l.id)
          val committed = fs.exists(m) && occTagOf(fs, m).exists(_.headOption == l.writer)
          val aboveFloor = ledgerFloor.exists(floor => l.id >= floor)
          val agedOut = f.getModificationTime < occReapHorizon
          if (!committed && aboveFloor && agedOut) {
            System.err.println(s"[lake] reclaiming uncommitted OCC leftover ${f.getPath.getName}")
            fs.delete(f.getPath, false)
          }
        }
      }
    }
    // time-travel history: pre-sweep generations serve snapshots older
    // than a compaction horizon ([[readAsOf]]) — retention-expired leaves
    // inside them fall with the live leaf, and whole generations below
    // the ledger horizon (max marker - ledgerKeep) are prunable because
    // no retained marker can name a batch that deep; an emptied
    // generation directory is removed outright. This is the vacuum
    // window: after it, readAsOf fails loudly for the pruned range.
    val markerMax = ids.lastOption.getOrElse(Long.MinValue)
    val retainedGens: Seq[HistGen] = historyIndex(fs, root).flatMap { g =>
      if (markerMax != Long.MinValue && g.horizon < markerMax - ledgerKeep) {
        fs.delete(g.dir, true)
        System.err.println(s"[lake] vacuumed history generation ${g.horizon}")
        None
      } else {
        val (gone, kept) = g.leaves.partition(expired)
        gone.foreach(l => fs.delete(new Path(g.dir, l), true))
        if (fs.listStatus(g.dir).isEmpty) { fs.delete(g.dir, true); None }
        else Some(g.copy(leaves = kept))
      }
    }
    // writer-epoch ledger: only the MAX epoch is ever consulted by the
    // fence, so every lower token is dead weight — keep the top one
    val epochs = numbered(fs, new Path(root, WriterRoot)).filter(_._2.isFile)
    if (epochs.size > 1) epochs.init.foreach(e => fs.delete(e._2.getPath, false))
    // empty-ledger guard: Long.MinValue - ledgerKeep would WRAP to a huge
    // positive horizon; harmless while only the filter below consumes it,
    // but any second consumer (logging, metrics) would act on the corrupt
    // value — make the empty case an explicit no-prune horizon instead
    val ledgerHorizon = if (ids.isEmpty) Long.MinValue else markerMax - ledgerKeep
    val (old, keptIds) = ids.partition(_ < ledgerHorizon)
    old.foreach(id => fs.delete(markerPath(root, id), false))
    // change records ride the same retention bound as their markers: a
    // change record whose marker is gone is unservable ([[tailChanges]]
    // requires the marker) — dead weight either way
    numbered(fs, new Path(root, CdcRoot)).filter(_._1 < ledgerHorizon)
      .foreach(c => fs.delete(c._2.getPath, true))
    val prunedMarkers = old.size
    // deletion-vector generations: LIVE-LOAD-BEARING until every file they
    // reference is gone (a DV on a never-compacted leaf keeps its rows
    // hidden forever — pruning it would UN-delete them), so the bound is
    // target liveness, not marker age: a generation is dead only when none
    // of its `_targets` exists under the root or any RETAINED history
    // generation (after the history pruning above, so the retained set is
    // final). A generation with no readable manifest is kept —
    // conservative, like every advisory sidecar here. Stale `.tmp` stages
    // whose generation (or marker) landed are reaped like staging dirs.
    val dvRoot = new Path(root, DvRoot)
    val keptMarked = keptIds.toSet
    children(fs, dvRoot).foreach { g =>
      val name = g.getPath.getName
      if (name.startsWith(".tmp")) {
        if (idAfter(name, ".tmp").exists(id =>
            fs.exists(new Path(dvRoot, id.toString)) || keptMarked(id)))
          fs.delete(g.getPath, true)
      } else if (idAfter(name, "").nonEmpty) {
        val manifest = new Path(g.getPath, DvTargetsFile)
        val targets = if (!fs.exists(manifest)) None else readSealed(fs, manifest)
        targets.foreach { ts =>
          // a target is `leaf/file`: only generations storing its leaf
          // can hold it
          val liveSomewhere = ts.exists { t =>
            fs.exists(new Path(root, t)) || retainedGens.exists(h =>
              h.leaves(t.split('/').head) && fs.exists(new Path(h.dir, t)))
          }
          if (!liveSomewhere) {
            fs.delete(g.getPath, true)
            System.err.println(s"[lake] vacuumed dead deletion-vector generation $name")
          }
        }
      }
    }
    // fold the zone-map sidecars: one file per write accumulates exactly
    // like the ledger, but stats for OLD data stay VALUABLE (they are what
    // prunes the long tail at read time), so the bound is consolidation,
    // not deletion
    foldStats(fs, root, minSidecars = 2)
    (dropped, prunedMarkers)
  }

  /** TIME TRAVEL: the lake as of committed batch `asOf` — every row of
    * every batch id <= asOf, none of any later batch. The commit ledger
    * plus per-batch deterministic file names make the snapshot a pure
    * LISTING FILTER, no data copy and no manifest format:
    *
    *   - `gb<id>-*` append files are included iff id <= asOf;
    *   - `gc<B>-*` compaction rewrites (B = the max committed batch at
    *     sweep time, stamped by [[compactPartitions]]) merge exactly the
    *     batches <= B of their leaf, so they are included iff B <= asOf;
    *   - a leaf whose current rewrite horizon has PASSED asOf is resolved
    *     from `_graft_history/<B'>/<leaf>` — compaction renames the
    *     pre-sweep generation there instead of deleting it, so snapshots
    *     older than the latest sweep stay readable until [[vacuum]] prunes
    *     the generation (the manifest-format vacuum-window discipline from
    *     FS primitives). The generation to read is the SMALLEST horizon
    *     B' > asOf that stored this leaf: its content is the leaf's state
    *     just before that sweep, whose own lineage is then <= asOf by the
    *     minimality of B' (any inner gc came from an earlier sweep of this
    *     leaf, which would itself be a smaller stored generation). Once
    *     vacuum has pruned the needed generation the read FAILS LOUDLY
    *     rather than approximating — the pinned contract: time travel
    *     reaches exactly as far back as the retained history;
    *   - any other data file has no batch lineage (it was not written by
    *     this sink) and likewise fails the read.
    *
    * Consistency matches the main read path: a snapshot listed while a
    * crashed batch <= asOf awaits replay can see that batch's
    * rolled-back-then-recommitted files in flux — the sink's documented
    * reader-visibility caveat, unchanged. The listing is O(leaves+files)
    * driver-side FS calls, the same cost every FS-backed table read pays
    * for discovery; `basePath` keeps the Hive partition column (history
    * paths preserve the `event_date=` leaf name, so discovery sees the
    * same layout).
    *
    * READ-ONLY: a snapshot read must never mutate the lake — in
    * particular it must not "heal" a sweep that is merely IN FLIGHT on
    * the live writer (promoting the writer's half-laid rewrite out of
    * `_compact_tmp` would fail the writer's own swap rename — a reader
    * failing the writer). Interrupted-swap remnants are therefore
    * RESOLVED IN THE LISTING instead of renamed: a leaf absent from the
    * root is served from its `_compact_tmp` rewrite when that rewrite's
    * horizon serves `asOf` (the writer's rename-in will land exactly this
    * content), falling back to the retained history generation for older
    * snapshots; `_compact_old` children (the no-ledger swap's aside) only
    * matter for lakes without lineage, where time travel is undefined
    * anyway and the read fails on their nameless files as before. Healing
    * remains the job of the WRITE paths (every sweep and vacuum).
    */
  def readAsOf(
      spark: SparkSession,
      lakeDir: String,
      asOf: Long): DataFrame = {
    val (root, fs) = lakeFs(spark, lakeDir)
    require(fs.exists(root), s"no lake at $lakeDir")
    requireNotClone(fs, root, "time travel (readAsOf)")

    // files of one directory filtered to lineage <= asOf; Left(horizon) if
    // a rewrite beyond asOf makes this directory's content unservable
    def serveDir(dir: Path): Either[Long, Seq[Path]] = {
      val named = parquetFiles(fs, dir).map(f => f.getPath -> Lineage.parse(f.getPath.getName))
      val over = named.collect { case (_, Some(l)) if l.rewrite && l.id > asOf => l.id }
      if (over.nonEmpty) Left(over.min)
      else Right(named.flatMap {
        // a rewrite here is <= asOf
        case (f, Some(l)) => if (l.rewrite || l.id <= asOf) Some(f) else None
        case (f, None) => throw new IllegalStateException(
          s"${f.getName} in $dir carries no batch lineage — this lake was not " +
            "(only) written by LakeSink; time travel undefined")
      })
    }
    // read-only remnant resolution (see scaladoc): a leaf name can be live
    // under the root, mid-swap in _compact_tmp, or aside in _compact_old —
    // the union is the leaf namespace; the live copy always wins (a tmp or
    // old child whose target exists is a stale orphan for the next sweep's
    // healing, not for this reader)
    val mounts = Seq(root, new Path(root, TmpRoot), new Path(root, OldRoot))
    val hist = historyIndex(fs, root)
    // the generation serving this leaf beyond asOf, if any — None both
    // when the leaf was never swept and when it exists only at or before
    // asOf-era history
    def retainedGen(leafName: String): Option[HistGen] = servingGen(hist, leafName, asOf + 1)
    def fromHistory(leafName: String): Seq[(Path, Path)] = {
      val gen = retainedGen(leafName).getOrElse(throw new IllegalStateException(
        s"time travel to batch $asOf is lost for $leafName: the " +
          "compaction that rewrote it has no retained pre-sweep " +
          "generation (vacuumed, or compacted without a ledger) — " +
          "snapshots reach exactly as far back as the retained history"))
      serveDir(new Path(gen.dir, leafName)) match {
        case Right(paths) => paths.map(gen.dir -> _)
        case Left(b) => throw new IllegalStateException(
          s"time travel to batch $asOf is lost for $leafName: the " +
            s"oldest retained generation (${gen.horizon}) already holds a " +
            s"rewrite at horizon $b > $asOf — the deeper generation that " +
            "could serve this snapshot has been vacuumed")
      }
    }
    // each served file is tagged with its MOUNT (the directory holding the
    // `event_date=` leaf — the root, a history generation, or a mid-swap
    // staging dir) for [[scanMounts]]
    def serveLeaf(leafName: String): Seq[(Path, Path)] = {
      mounts.map(new Path(_, leafName)).find(fs.exists) match {
        case Some(dir) =>
          serveDir(dir).map(_.map(dir.getParent -> _)).getOrElse(fromHistory(leafName))
        case None =>
          // HISTORY-ONLY leaf: retired by a restore (born after its
          // snapshot, rolled back out of the live tree). Generations
          // beyond asOf serve it; none means the leaf legitimately has no
          // content at this snapshot — empty, NOT an error (the
          // time-travel-lost error is for LIVE leaves whose rewrite
          // outran asOf with the retained generation vacuumed)
          if (retainedGen(leafName).isEmpty) Seq.empty else fromHistory(leafName)
      }
    }
    // leaf namespace: live, mid-swap, aside, AND history-resident — a
    // restore retires a born-after-snapshot leaf wholesale into its
    // generation, where pre-restore snapshots must still find it
    val files = (mounts.flatMap(leafDirs(fs, _).map(_.getName)) ++ hist.flatMap(_.leaves))
      .distinct.sorted
      .flatMap(serveLeaf)
    require(files.nonEmpty, s"no files at or before batch $asOf under $lakeDir")
    // SCHEMA AS OF the snapshot: a pre-evolution snapshot correctly lacks
    // the later column; files older than a widening null-fill under it.
    // Deletion vectors AS OF the snapshot: generations committed at or
    // before asOf apply; later deletes stay invisible. Positions are keyed
    // by (leaf, file name), so a file served from a retained history
    // generation matches its entries exactly as it did live
    scanMounts(spark, files, declaredReadSchema(fs, root, asOf), dvStore(spark, fs, root, asOf))
  }

  /** LEDGER-DRIVEN INCREMENTAL TAIL — batch-read exactly the commits in
    * `(fromExclusive, toInclusive]`, the consumption shape Delta serves
    * with CDF/startingVersion batch reads and the stated 100 TB upgrade
    * over st44's file-stream tail: a file-stream source LISTS the whole
    * table every trigger and must read-and-drop every pre-horizon file at
    * bootstrap, while this read touches ONLY the leaves named by the
    * tailed commit markers — O(range's leaves) FS calls — and is IMMUNE
    * to compaction re-delivery because it addresses files by LINEAGE NAME
    * (`gb<id>-`), never by directory snapshot: a sweep that merges served
    * batches into a `gc` rewrite does not change which files batch N
    * owns — they move wholesale into the retained pre-sweep generation,
    * where this read follows them (gb<id> lives in the smallest stored
    * horizon >= id, or the live leaf when id is past every horizon) until
    * [[vacuum]] prunes the generation, after which the read FAILS LOUDLY
    * (the same vacuum-window contract as [[readAsOf]]). A torn marker
    * (content crash after the commit exchange) hides its leaf list, so
    * the lookup over-approximates to every live and historical leaf for
    * that batch — over-list, never drop rows. The caller owns the
    * high-water mark (the Kafka-offsets discipline): persist `to` only
    * after the downstream effect commits, and make the effect idempotent
    * per range so a crash between the two replays harmlessly.
    */
  def tailCommits(
      spark: SparkSession,
      lakeDir: String,
      fromExclusive: Long,
      toInclusive: Long): DataFrame = {
    require(fromExclusive <= toInclusive,
      s"empty tail range ($fromExclusive, $toInclusive]")
    val (root, fs) = lakeFs(spark, lakeDir)
    require(fs.exists(ledgerDir(root)), s"no commit ledger under $lakeDir — " +
      "ledger tailing needs a LakeSink-written lake")
    tailRange(spark, fs, root, historyIndex(fs, root), fromExclusive, toInclusive)
  }

  /** [[tailCommits]] over an opened lake and its history index. */
  private def tailRange(
      spark: SparkSession,
      fs: FileSystem,
      root: Path,
      hist: Seq[HistGen],
      fromExclusive: Long,
      toInclusive: Long): DataFrame = {
    // (mount, file) pairs for one batch's files in one leaf: live leaf when
    // the batch is past every sweep horizon, else the leaf's OWN smallest
    // stored generation >= the batch id (scoped sweeps rewrite only some
    // leaves per horizon; earlier sweeps of this leaf merged only batches
    // < id, so that generation still carries the file); `strict` requires
    // the files to exist (a marker named this leaf), the over-approximated
    // torn-marker path probes quietly
    def locate(batchId: Long, leafName: String, strict: Boolean): Seq[(Path, Path)] = {
      val gen = servingGen(hist, leafName, batchId)
      val mount = gen.fold(root)(_.dir)
      val served = children(fs, new Path(mount, leafName)).map(_.getPath)
        .filter(_.getName.startsWith(Lineage.append(batchId))).sortBy(_.getName)
      if (served.isEmpty && strict) throw new IllegalStateException(
        s"ledger tail lost batch $batchId in $leafName: its files are in " +
          s"neither the live leaf nor the ${gen.fold("(no)")(g => s"horizon-${g.horizon}")} " +
          "generation — the retaining generation has been vacuumed; " +
          "incremental tails reach exactly as far back as the retained history")
      served.map(mount -> _)
    }
    val files = ((fromExclusive + 1) to toInclusive).flatMap { id =>
      val marker = markerPath(root, id)
      require(fs.exists(marker), s"ledger tail lost batch $id: its commit " +
        "marker has been pruned — tail before vacuum's ledgerKeep horizon passes")
      // a MERGE commit is a semantics boundary, not data to tail: its
      // changes are leaf rewrites, and serving only its gb insert files
      // would silently misrepresent the commit. The tail serves APPEND
      // commits; row-level changes need a CDC channel. (The #rewrite tag
      // is the marker's FIRST line, so even most torn merge markers still
      // classify; a torn merge marker that lost its first line degrades
      // to over-listing the commit's appends — the same over-approximation
      // any torn marker gets.)
      val tag = markerTagOf(fs, marker)
      if (tag.contains(MarkerRewrite)) throw new IllegalStateException(
        s"commit $id is a REWRITE commit (merge) — the incremental tail " +
          "serves append commits only; row-level merge changes have no " +
          s"change feed here. Consume a fresh snapshot via readAsOf($id) " +
          "and resume tailing above it")
      // a deletion-vector commit carries NO files: silently serving its
      // (empty) appends would drop the deletes from the consumer's view —
      // the same boundary contract as a merge
      if (tag.contains(MarkerDv)) throw new IllegalStateException(
        s"commit $id is a DELETION-VECTOR commit — it adds no rows and its " +
          "deletes cannot be expressed as an append tail. Consume it " +
          s"through tailChanges (recordChanges = true at delete time) or a " +
          s"fresh readAsOf($id) snapshot")
      readMarkerLeaves(fs, marker) match {
        case Some(leaves) => leaves.flatMap(l => locate(id, l, strict = true))
        case None => // torn content: leaf list unknown — probe everywhere
          (leafDirs(fs, root).map(_.getName) ++ hist.flatMap(_.leaves)).distinct
            .flatMap(l => locate(id, l, strict = false))
      }
    }
    require(files.nonEmpty,
      s"no files found for commits ($fromExclusive, $toInclusive] under $root")
    // schema as of the range head — commits inside the range that predate
    // a widening null-fill under it
    scanMounts(spark, files, declaredReadSchema(fs, root, toInclusive))
  }

  /** CHANGE-DATA-FEED tail — the row-level consumption shape Delta serves
    * with CDF, and the upgrade [[tailCommits]] points at when it refuses a
    * merge commit: batch-read the CHANGES of every commit in
    * `(fromExclusive, toInclusive]` as `(_op, _commit, ...row)` rows.
    *
    *   - an APPEND commit's changes are its rows, op `insert` — served by
    *     lineage name through [[tailCommits]] (same O(range) cost, same
    *     compaction immunity, same loud vacuum bounds);
    *   - a MERGE commit's changes were captured AT MERGE TIME into
    *     `_graft_cdc/<B>/` (`mergeInto(recordChanges = true)`): `delete` /
    *     `update_pre` / `update_post` / `insert` rows with true pre-images
    *     (recomputing them after the rewrite is impossible — the pre-state
    *     is gone from the live leaves). A merge committed WITHOUT a change
    *     record fails LOUDLY here: serving only its insert half would
    *     misrepresent the commit.
    *
    * The caller owns the high-water mark exactly as for [[tailCommits]].
    */
  def tailChanges(
      spark: SparkSession,
      lakeDir: String,
      fromExclusive: Long,
      toInclusive: Long): DataFrame = {
    require(fromExclusive <= toInclusive,
      s"empty change range ($fromExclusive, $toInclusive]")
    val (root, fs) = lakeFs(spark, lakeDir)
    require(fs.exists(ledgerDir(root)), s"no commit ledger under $lakeDir")
    // ONE history index serves every append commit of the range
    val hist = historyIndex(fs, root)
    val perCommit = ((fromExclusive + 1) to toInclusive).map { id =>
      val marker = markerPath(root, id)
      require(fs.exists(marker), s"change tail lost batch $id: its commit " +
        "marker has been pruned — tail before vacuum's ledgerKeep horizon passes")
      if (markerTagOf(fs, marker).exists(t => t == MarkerRewrite || t == MarkerDv)) {
        if (!fs.exists(cdcDir(root, id))) throw new IllegalStateException(
          s"commit $id is a merge/delete with NO change record — it ran " +
            "with recordChanges = false (or vacuum pruned the record); its " +
            "row-level changes are unrecoverable from the rewritten " +
            s"leaves (or the DV sidecar's bare positions). Consume a fresh " +
            s"snapshot via readAsOf($id) instead")
        spark.read.parquet(cdcDir(root, id).toString)
          .withColumn("_commit", lit(id))
      } else {
        tailRange(spark, fs, root, hist, id - 1, id)
          .withColumn("_op", lit("insert"))
          .withColumn("_commit", lit(id))
      }
    }
    perCommit.reduce(_ unionByName _)
  }

  /** One compaction sweep: rewrite every `event_date=*` leaf holding at
    * least `minFiles` parquet files down to the [[Layout.compactParquet]]
    * measured-size file count. `only = Some(names)` restricts the sweep to
    * those partition directory names (the dirty-set fast path);
    * `only = None` is the full-table sweep (the scheduled backstop).
    * Returns (partition name, files before, files after) per rewritten
    * partition, in leaf-name order.
    *
    * Leaf rewrites are INDEPENDENT (each is its own read→shuffle→write +
    * its own rename-aside swap), so the sweep fans them across a bounded
    * thread pool (`maxConcurrency` concurrent Spark jobs — the scheduler
    * interleaves their tasks fine). The serial form paid a fixed ~0.25 s
    * of job-submission+commit latency PER LEAF on top of the rewrite
    * itself (BENCH_NOTES `lakesweep`), which at a daily cadence over many
    * dirtied dates made sweep wall time linear in leaf count for no
    * reason. Crash-safety is unchanged: a kill mid-sweep leaves each
    * in-flight leaf as its own recoverable aside/rewrite pair, and
    * [[recoverSweeps]] heals every one of them; a failed leaf fails the
    * sweep loudly after the pool drains.
    *
    * FENCING: a sweep is a long Spark job per leaf, not an instantaneous
    * mutation — a zombie driver paused mid-sweep can wake after a
    * successor claims the lake and would otherwise still swap a
    * stale-horizon rewrite over the successor's fresh commits (silently
    * vanishing them from the live view). `fenceEpoch` re-validates the
    * writer fence per leaf, AFTER the rewrite job and immediately before
    * the swap renames, so the vulnerable window shrinks back to a single
    * check-then-rename instant. The streaming sink always passes its
    * epoch; standalone maintenance should claim one via
    * [[claimWriterEpoch]] (fencing out the stream writer is correct —
    * single-writer means maintenance IS the writer while it runs).
    * `sweepHook(leafName)` fires between a leaf's rewrite and its fence
    * check — the race-simulation hook the fence tests drive; production
    * callers leave the no-op.
    */
  def compactPartitions(
      spark: SparkSession,
      lakeDir: String,
      targetFileBytes: Long,
      minFiles: Int,
      only: Option[Set[String]] = None,
      maxConcurrency: Int = 8,
      fenceEpoch: Option[Long] = None,
      statsCols: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil,
      sweepHook: String => Unit = _ => ()): Seq[(String, Int, Int)] = {
    require(zorderBy.isEmpty || clusterBy.isEmpty,
      "clusterBy and zorderBy are alternative layouts for one rewrite — pick one")
    require(zorderBy.isEmpty || zorderBy.size == 2,
      s"zorderBy interleaves exactly two numeric columns, got $zorderBy")
    val (root, fs) = lakeFs(spark, lakeDir)
    if (!fs.exists(root)) return Seq.empty
    requireNotClone(fs, root, "compaction")
    fenceEpoch.foreach(e => checkWriterFence(fs, root, e))
    // heal BEFORE enumerating: the leaf listing (and the scoped path's
    // fs.exists probes) must see restored leaves, not their absence
    recoverSweeps(fs, root)
    // time-travel horizon: a rewrite merges every batch committed so far
    // into files that no longer carry per-batch lineage, so the rewrite is
    // stamped with the max committed batch id B (`gc<B>-p<k>`) — readAsOf
    // can then include the whole rewrite for any snapshot >= B and must
    // refuse snapshots < B (the pre-compaction layout is gone). A lake
    // without a commit ledger (plain parquet appends) has no lineage to
    // stamp; its rewrites keep their part-* names and stay outside the
    // time-travel contract.
    val asOfHorizon: Option[Long] = ledgerIds(fs, root).lastOption
    // committed deletion vectors MATERIALIZE here: the rewrite filters the
    // DV'd rows out and lays down fresh `gc<B>` names the old entries can
    // no longer match — the sidecar becomes dead weight for the live view
    // (still serving retained-history snapshots until vacuum reclaims it)
    val dvLive = dvStore(spark, fs, root)
    // dirty-set path: address the named leaves directly — O(|dirty|) FS
    // calls, no root enumeration; full sweep lists the table once
    val leaves: Seq[Path] = only match {
      case Some(names) => names.toSeq.sorted.map(new Path(root, _)).filter(fs.exists)
      case None => leafDirs(fs, root)
    }
    def compactOne(leaf: Path): Option[(String, Int, Int)] = {
      val files = parquetFiles(fs, leaf)
      val before = files.size
      if (before < minFiles) None
      else {
        // the leaf's files carry no event_date column (partitionBy strips
        // it), so a plain rewrite within the same leaf round-trips exactly.
        // `clusterBy` range-partitions + sorts the rewrite (Layout's
        // clustering — per-file disjoint ranges), which COMPOSES with
        // `statsCols` zone maps: a clustered column's per-file min/max
        // intervals are disjoint, so a point/range readPruned scans ~one
        // file per leaf instead of all of them. `zorderBy` is the 2-D
        // variant (Layout's Morton interleave — the OPTIMIZE ZORDER
        // shape): files cover compact 2-D tiles, so readPruned skips on
        // EITHER column; 1-D clustering prunes only its own column and
        // leaves the other unconstrained in every file
        val dvT = (df: DataFrame) => dvLive.fold(df)(applyDv(df, _))
        // the rewrite is stamped with the ledger head; a lake without a
        // ledger has no lineage and no history: swap without retention
        val after = rewriteLeaf(spark, fs, root, leaf.getName, asOfHorizon,
          retain = true, statsCols, "compaction", () => sweepHook(leaf.getName),
          () => fenceEpoch.foreach(e => checkWriterFence(fs, root, e))) { tmp =>
          if (zorderBy.isEmpty)
            Layout.compactParquet(spark, leaf.toString, tmp.toString,
              targetFileBytes, clusterBy, transform = dvT)
          else {
            val n = rewriteFileCount(files, targetFileBytes)
            Layout.zorderParquet(spark, leaf.toString, tmp.toString,
              zorderBy.head, zorderBy(1), n, transform = dvT)
            n
          }
        }
        System.err.println(
          s"[lake] compacted ${leaf.getName}: $before -> $after files")
        Some((leaf.getName, before, after))
      }
    }
    fanOut(leaves, maxConcurrency)(compactOne).flatten
  }

  /** Run independent leaf rewrites (each its own read→shuffle→write + its
    * own swap) across a bounded pool of `maxConcurrency` concurrent Spark
    * jobs — the scheduler interleaves their tasks fine — returning results
    * in input order; serial for a single item or `maxConcurrency <= 1`. A
    * failed item fails the call.
    */
  private def fanOut[A, B](items: Seq[A], maxConcurrency: Int)(f: A => B): Seq[B] =
    if (items.size <= 1 || maxConcurrency <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrency, items.size))
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.sequence(items.map(i => Future(f(i)))),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }

  /** File count for rewriting `files` at `targetFileBytes` each (>= 1). */
  private def rewriteFileCount(files: Seq[FileStatus], targetFileBytes: Long): Int = {
    val bytes = files.map(_.getLen).sum
    math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
  }

  /** Crash-safe swap WITHOUT retention: the ORIGINAL leaf is renamed aside
    * under `_compact_old` before the rewrite renames in, and deleted only
    * LAST — at no instant is the rewrite the partition's only copy (a
    * delete-then-rename swap has a window where the sole copy lives in
    * `_compact_tmp`, which vacuum would then reap as orphaned); a crash
    * between the renames is healed by [[recoverSweeps]].
    */
  private def swapAside(fs: FileSystem, root: Path, leaf: Path, tmp: Path, verb: String): Unit = {
    val old = new Path(new Path(root, OldRoot), leaf.getName)
    fs.mkdirs(old.getParent)
    fs.delete(old, true) // stale leftover from a recovered crash
    require(fs.rename(leaf, old), s"$verb swap failed renaming $leaf aside")
    require(fs.rename(tmp, leaf), s"$verb swap failed for $leaf")
    fs.delete(old, true)
  }

  private val OldRoot = "_compact_old"
  private val HistoryRoot = "_graft_history"
  private val StatsRoot = "_graft_stats"
  private val CdcRoot = "_graft_cdc"
  private def cdcDir(root: Path, b: Long): Path = new Path(new Path(root, CdcRoot), b.toString)

  /** Write commit `b`'s change record (`_graft_cdc/<b>/`) durable-or-absent:
    * staged under `.tmp<b>`, then renamed in. A change record is O(churn)
    * by its verb's contract, so it is written as ONE file — every later
    * [[tailChanges]] read opens it — with `repartition(1)` rather than
    * `coalesce(1)`, which would collapse the upstream pre-image join to
    * one task too.
    */
  private def writeChangeRecord(fs: FileSystem, root: Path, b: Long, changes: DataFrame): Unit = {
    val dst = cdcDir(root, b)
    val tmp = new Path(dst.getParent, s".tmp$b")
    changes.repartition(1).write.mode("overwrite").parquet(tmp.toString)
    fs.mkdirs(dst.getParent)
    require(fs.rename(tmp, dst), s"change-record rename failed: $tmp -> $dst")
  }
  private val DvRoot = "_graft_dv"

  /** FS-readable target manifest inside each DV generation: one `leaf/file`
    * line per referenced data file, [[MarkerEnd]]-terminated. [[vacuum]]
    * consults it (a DV generation is dead only when every target file is
    * gone from the live table AND every retained history generation) and a
    * marker-less retry re-derives the commit's touched-leaf list from it.
    * Underscore-prefixed so the parquet read of the generation ignores it.
    */
  private val DvTargetsFile = "_targets"

  /** Per-delete outcome: the allocated commit id, the leaves whose files
    * gained deletion-vector entries, and the number of rows deleted.
    */
  final case class DvStats(
      commitId: Long,
      touchedLeaves: Seq[String],
      deletedRows: Long)

  /** The committed deletion-vector store as one `(leaf, file, pos)`
    * relation, or None when no generation applies. A generation applies iff
    * its id is `<= min(asOf, max committed id)`: ids are lake-allocated
    * (max committed + 1), so a generation at or below the ledger head is
    * provably committed even after [[vacuum]] prunes its marker, and a
    * generation ABOVE the head is a crash-before-marker orphan that must
    * stay invisible (the atomicity of the delete verb: nothing applies
    * until the marker exchange lands).
    */
  private def dvStore(
      spark: SparkSession,
      fs: FileSystem,
      root: Path,
      asOf: Long = Long.MaxValue): Option[DataFrame] = {
    // the ledger is listed only when a generation exists
    lazy val bound = math.min(asOf, maxCommittedId(fs, root))
    val gens = numbered(fs, new Path(root, DvRoot))
      .collect { case (id, d) if d.isDirectory && id <= bound => d.getPath.toString }
    if (gens.isEmpty) None else Some(spark.read.parquet(gens: _*))
  }

  /** Anti-apply a deletion-vector relation to a FRESH FILE SCAN: each row
    * is identified by `(leaf, file name, row index)` straight off the scan's
    * `_metadata` struct — codegen'd column ops, no UDF — and removed when
    * the DV store names it. Positions are stable per physical file, so the
    * mapping survives file MOVES (a retained history generation keeps the
    * file name; [[readAsOf]] reads it there with the same DV applied) and
    * self-expires on REWRITES (compaction/merge lay down fresh `gc<B>`
    * names the old entries cannot match — materialization needs no
    * bookkeeping). Join strategy is left to Catalyst/AQE: the DV relation
    * is O(deleted rows) and broadcasts while small; a churn-heavy table
    * degrades to a shuffle join — at which point the deletes should have
    * been a copy-on-write [[mergeInto]] anyway (the documented crossover).
    * `df` must be the direct file-source relation (metadata columns stop
    * resolving after a union), which every caller here guarantees.
    */
  private def applyDv(df: DataFrame, dv: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{element_at, split}
    val keyed = df
      .withColumn("__dv_leaf",
        element_at(split(col("_metadata.file_path"), "/"), -2))
      .withColumn("__dv_file", col("_metadata.file_name"))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    keyed.join(
        dv.select(col("leaf").as("__dv_leaf"), col("file").as("__dv_file"),
          col("pos").as("__dv_pos")),
        Seq("__dv_leaf", "__dv_file", "__dv_pos"), "left_anti")
      .drop("__dv_leaf", "__dv_file", "__dv_pos")
  }

  /** MERGE-ON-READ DELETE — the Delta deletion-vector verb: mark rows
    * deleted in an O(churn) sidecar instead of rewriting their leaves
    * copy-on-write. At 100 TB this is the difference between a few-KB
    * `_graft_dv/<B>/` write and re-shuffling every touched leaf to retire a
    * handful of rows (GDPR-row class deletes); the standing cost moves to
    * the READ side — every lake read path anti-joins the committed DV store
    * — until the next compaction sweep MATERIALIZES the deletes into its
    * rewrite (the touched leaves enter the commit marker's leaf list, so
    * the scoped sweep gets there on its own) and [[vacuum]] reclaims the
    * dead generations. A delete whose churn is a large fraction of the
    * table should be a [[mergeInto]] instead: the DV store and this verb's
    * driver-side target manifest are both O(deleted rows / touched files).
    *
    * `deletes` carries `(keyCol, tsCol)` pairs — the event time addresses
    * the leaf, the partition-scoped discipline shared with [[mergeInto]]
    * (the find-matches scan reads only the deletes' own partitions, with
    * already-deleted rows anti-applied first so a re-delete is a no-op).
    *
    * COMMIT: one lake-allocated id B through the atomic marker exchange,
    * tagged [[MarkerDv]]. The parquet sidecar (plus its [[DvTargetsFile]]
    * manifest) is staged under `.tmp<B>` and RENAMED in — durable-or-absent
    * — but stays INVISIBLE to readers until the marker lands, because the
    * store gate is `id <= max committed` ([[dvStore]]). A crash at any
    * instant re-runs idempotently: the retry re-allocates the same B, finds
    * the complete generation, and proceeds straight to the marker (the
    * pre-images recorded under `recordChanges` are likewise kept from the
    * first attempt, mirroring [[mergeInto]]'s retry discipline).
    *
    * `recordChanges` captures the deleted rows as `_op = delete` pre-images
    * into `_graft_cdc/<B>/` so [[tailChanges]] can serve the commit;
    * without it the change tail fails loudly at B, same as an unrecorded
    * merge. `faultInjector` points: `"dv-written"` (sidecar renamed in,
    * marker absent), `"pre-marker"`.
    */
  def deleteVectors(
      spark: SparkSession,
      lakeDir: String,
      deletes: DataFrame,
      keyCol: String,
      tsCol: String = "ts",
      fenceEpoch: Option[Long] = None,
      recordChanges: Boolean = false,
      faultInjector: String => Unit = _ => ()): DvStats = {
    import org.apache.spark.sql.functions.{broadcast, concat, lit}
    val Verb(root, fs, epoch, b) = openVerb(spark, lakeDir, fenceEpoch, Some("deleteVectors"))
    require(b > 0, s"deletion vectors on $lakeDir need a ledgered lake (no " +
      "commits found) — lay the table down via appendBatch first")
    val dvGen = new Path(new Path(root, DvRoot), b.toString)
    val marker = markerPath(root, b)

    if (fs.exists(dvGen)) {
      // crash-before-marker retry: the generation is complete (rename made
      // it durable-or-absent) and the lake has not advanced (B re-allocated
      // as max committed + 1) — reuse it, re-derive the leaf list from the
      // target manifest, and finish the commit
      System.err.println(s"[lake] delete retry: deletion-vector generation " +
        s"$b already complete — committing the first attempt's sidecar")
      val targets = readSealed(fs, new Path(dvGen, DvTargetsFile))
      require(targets.isDefined,
        s"deletion-vector generation $b has a torn target manifest — the " +
          "rename-in should have made it complete-or-absent; refusing to " +
          "commit an unaccountable generation")
      val leaves = targets.get.map(_.split('/').head).distinct.sorted
      val n = spark.read.parquet(dvGen.toString).count()
      faultInjector("pre-marker")
      checkWriterFence(fs, root, epoch)
      writeCommitMarker(fs, marker, b, leaves, markerTag = Some(MarkerDv))
      return DvStats(b, leaves, n)
    }

    val delKeys = deletes.select(col(keyCol),
      to_date(col(tsCol)).cast("string").as("__d"))
    require(delKeys.filter(col("__d").isNull).isEmpty,
      "delete rows with a null event time cannot address a partition — " +
        "scope them explicitly (the partition-scoped delete contract)")
    // k-bounded driver probe: one row per affected DATE, never per key
    val dates = delKeys.select("__d").distinct()
      .collect().map(_.getString(0)).sorted
      .filter(d => fs.exists(new Path(root, s"$LeafPrefix$d")))
    if (dates.isEmpty) {
      // nothing to delete — still a committed (empty) verb? No: an empty
      // commit would burn an id for nothing; report and return
      System.err.println(s"[lake] delete matched no existing partitions — no-op")
      return DvStats(-1L, Seq.empty, 0L)
    }
    // find-matches scan: ONLY the deletes' own partitions. Row identities
    // come off `_metadata`, which resolves only on the direct file scan —
    // capture them FIRST, then anti-apply the already-committed DV store on
    // those same columns so a row deleted twice yields no second entry (and
    // no false pre-image in the change record)
    val scoped = {
      val withIds = scanOf(spark, Some(root), dates.map(d => new Path(root, s"$LeafPrefix$d")),
          declaredReadSchema(fs, root))
        .withColumn("__d", col("event_date").cast("string"))
        .withColumn("__leaf", concat(lit("event_date="), col("__d")))
        .withColumn("__file", col("_metadata.file_name"))
        .withColumn("__pos", col("_metadata.row_index"))
      dvStore(spark, fs, root) match {
        case None => withIds
        case Some(dv) => withIds.join(
          dv.select(col("leaf").as("__leaf"), col("file").as("__file"),
            col("pos").as("__pos")),
          Seq("__leaf", "__file", "__pos"), "left_anti")
      }
    }
    val matched = scoped.join(broadcast(delKeys), Seq(keyCol, "__d"), "left_semi")
      .cache()
    try {
      val deleted = matched.count()
      if (deleted == 0L) {
        System.err.println(s"[lake] delete matched no live rows — no-op")
        return DvStats(-1L, Seq.empty, 0L)
      }
      // O(touched files) driver probe: the target manifest + marker leaf
      // list — the same bookkeeping class as the commit marker itself
      val targets = matched.select(col("__leaf"), col("__file")).distinct()
        .collect().map(r => s"${r.getString(0)}/${r.getString(1)}").sorted
      val leaves = targets.map(_.split('/').head).distinct.sorted.toSeq
      if (recordChanges && !fs.exists(cdcDir(root, b)))
        writeChangeRecord(fs, root, b, matched.drop("__d", "__leaf", "__file", "__pos")
          .withColumn("_op", lit("delete")))
      // the sidecar: (leaf, file, pos) parquet + the FS-readable target
      // manifest, staged then renamed — durable-or-absent as one unit. It
      // is O(deleted rows), so one file (see [[writeChangeRecord]]), which
      // every later read's [[dvStore]] opens
      val tmp = new Path(new Path(root, DvRoot), s".tmp$b")
      matched.select(col("__leaf").as("leaf"), col("__file").as("file"),
          col("__pos").as("pos"))
        .repartition(1).write.mode("overwrite").parquet(tmp.toString)
      writeSmallFile(fs, new Path(tmp, DvTargetsFile),
        (targets :+ MarkerEnd).mkString("\n"))
      fs.mkdirs(dvGen.getParent)
      require(fs.rename(tmp, dvGen), s"deletion-vector rename failed: $tmp -> $dvGen")
      faultInjector("dv-written")
      checkWriterFence(fs, root, epoch)
      faultInjector("pre-marker")
      writeCommitMarker(fs, marker, b, leaves, markerTag = Some(MarkerDv))
      System.err.println(s"[lake] deletion-vector commit $b: $deleted rows " +
        s"across ${targets.length} files in ${leaves.size} leaves")
      DvStats(b, leaves, deleted)
    } finally matched.unpersist()
  }

  /** Parquet primitive types zone maps support — numeric, totally ordered,
    * and exactly representable as decimal strings. Anything else (strings,
    * timestamps-as-INT96, binary) simply gets no stats entry, and
    * [[readPruned]] scans those files unconditionally.
    */
  private val StatsTypes = Set("INT32", "INT64", "FLOAT", "DOUBLE")

  /** Per-column (min, max) over all row groups of one parquet file, read
    * from the FOOTER only — the O(1)-per-file metadata read that makes
    * commit-time stats collection cost footer-fetches, never a data pass
    * (Delta computes the same stats inline during the write; a footer read
    * of the file just written is the FS-primitives equivalent).
    */
  private def footerMinMax(
      conf: Configuration,
      file: Path,
      cols: Set[String]): Map[String, (String, String)] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val acc = scala.collection.mutable.Map.empty[String, (BigDecimal, BigDecimal)]
      r.getFooter.getBlocks.forEach { blk =>
        blk.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (cols.contains(name) &&
              StatsTypes.contains(c.getPrimitiveType.getPrimitiveTypeName.name)) {
            val st = c.getStatistics
            if (st != null && !st.isEmpty && st.hasNonNullValue) {
              val mn = BigDecimal(st.genericGetMin.toString)
              val mx = BigDecimal(st.genericGetMax.toString)
              acc.get(name) match {
                case Some((a, b)) => acc(name) = (a.min(mn), b.max(mx))
                case None => acc(name) = (mn, mx)
              }
            }
          }
        }
      }
      acc.map { case (k, (a, b)) => k -> (a.toString, b.toString) }.toMap
    } finally r.close()
  }

  /** Write one stats sidecar (`_graft_stats/<tag>`) holding
    * `leaf/file \t col \t min \t max` lines for the given just-written
    * files, sentinel-terminated like the commit markers (a torn sidecar is
    * DETECTABLE and [[loadStats]] skips it wholesale — files lose their
    * zone maps and get scanned, never wrongly pruned). Stats are ADVISORY
    * by construction: every read decision treats a missing entry as
    * "must scan".
    */
  private def writeFileStats(
      fs: FileSystem,
      conf: Configuration,
      root: Path,
      tag: String,
      files: Seq[(String, Path)],
      statsCols: Seq[String]): Unit = {
    if (statsCols.isEmpty || files.isEmpty) return
    val lines = files.sortBy(f => (f._1, f._2.getName)).flatMap { case (leaf, f) =>
      footerMinMax(conf, f, statsCols.toSet).toSeq.sortBy(_._1).map {
        case (c, (mn, mx)) => s"$leaf/${f.getName}\t$c\t$mn\t$mx"
      }
    }
    writeSmallFile(fs, new Path(new Path(root, StatsRoot), tag),
      (lines :+ MarkerEnd).mkString("\n"))
  }

  /** All complete stats lines under `_graft_stats` (torn sidecars skipped). */
  private def statsLines(fs: FileSystem, root: Path): Seq[String] = {
    children(fs, new Path(root, StatsRoot)).filter(_.isFile).sortBy(_.getPath.getName)
      .flatMap { s =>
        readSealed(fs, s.getPath).getOrElse {
          System.err.println(s"[lake] torn stats sidecar ${s.getPath.getName} — " +
            "ignoring it (its files will be scanned, not pruned)")
          Seq.empty
        }
      }
  }

  /** Fold the zone-map sidecars into one (`folded`) once there are at least
    * `minSidecars`: one file per write accumulates exactly like the ledger,
    * so every sidecar is merged into one, dropping entries whose files no
    * longer exist (retention-dropped, compaction-rewritten, merge-rewritten,
    * purged — a dead file's min/max can carry a purged key's value). A
    * crash mid-fold leaves either the old sidecars (fold lost, retried
    * next time) or a torn merged file readers skip — pruning degrades to
    * scanning, never to wrong results.
    */
  private def foldStats(fs: FileSystem, root: Path, minSidecars: Int): Unit = {
    val statsDir = new Path(root, StatsRoot)
    val sidecars = children(fs, statsDir).filter(_.isFile).map(_.getPath)
    if (sidecars.size >= minSidecars) {
      val live = statsLines(fs, root).filter { l =>
        l.split('\t') match {
          case Array(key, _, _, _) => fs.exists(new Path(root, key))
          case _ => false
        }
      }.distinct
      writeSmallFile(fs, new Path(statsDir, "folded"), (live :+ MarkerEnd).mkString("\n"))
      sidecars.filter(_.getName != "folded").foreach(p => fs.delete(p, false))
      System.err.println(s"[lake] folded ${sidecars.size} stats sidecars " +
        s"into one (${live.size} live entries)")
    }
  }

  /** Zone-map lookup for one column: `leaf/file` → (min, max). */
  private def loadStats(
      fs: FileSystem, root: Path,
      statsCol: String): Map[String, (BigDecimal, BigDecimal)] =
    statsLines(fs, root).map(_.split('\t')).collect {
      case Array(key, c, mn, mx) if c == statsCol => key -> (BigDecimal(mn), BigDecimal(mx))
    }.toMap

  /** How a pruned read went: files the listing found vs files the zone
    * maps let through to the scan.
    */
  final case class PruneReport(totalFiles: Int, scannedFiles: Int)

  /** DATA-SKIPPING read — the Delta zone-map lever: prune FILES by the
    * per-file min/max recorded at commit/compaction/merge time
    * (`statsCols` on the write verbs), BEFORE Spark plans the scan. Row-
    * group skipping inside a file is free from parquet; what it cannot do
    * is avoid listing, opening, and footer-reading every file — at 100 TB
    * with minutes-cadence commits that is millions of per-file opens for a
    * point-ish query. File-level stats kept OUTSIDE the files turn that
    * into one sidecar read + an in-memory interval check.
    *
    * Correctness never depends on stats: a file with no entry (stats never
    * collected, torn sidecar, non-numeric column) is scanned; the residual
    * row predicate `statsCol ∈ [lo, hi]` is ALWAYS applied (zone maps are
    * file-granular), typed to the column's native type so it still pushes
    * down to the parquet row groups of the files that do get scanned.
    * Bounds are inclusive. Serves the LIVE table view (snapshot reads via
    * [[readAsOf]] scan fully).
    */
  def readPruned(
      spark: SparkSession,
      lakeDir: String,
      statsCol: String,
      lo: BigDecimal,
      hi: BigDecimal): (DataFrame, PruneReport) = {
    val (root, fs) = lakeFs(spark, lakeDir)
    require(fs.exists(root), s"no lake at $lakeDir")
    requireNotClone(fs, root, "readPruned")
    val files = leafDirs(fs, root)
      .flatMap(l => parquetFiles(fs, l).map(f => (l.getName, f.getPath)))
    require(files.nonEmpty, s"no data files under $lakeDir")
    val stats = loadStats(fs, root, statsCol)
    val survivors = files.filter { case (leaf, f) =>
      stats.get(s"$leaf/${f.getName}") match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // no zone map: must scan
      }
    }
    val declared = declaredReadSchema(fs, root)
    def typed(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.types._
      val (l, h) = df.schema(statsCol).dataType match {
        case LongType => (lit(lo.toLongExact), lit(hi.toLongExact))
        case IntegerType => (lit(lo.toIntExact), lit(hi.toIntExact))
        case DoubleType => (lit(lo.toDouble), lit(hi.toDouble))
        case FloatType => (lit(lo.toFloat), lit(hi.toFloat))
        case dt => throw new IllegalArgumentException(
          s"readPruned bounds need a numeric column; $statsCol is $dt")
      }
      df.filter(col(statsCol) >= l && col(statsCol) <= h)
    }
    val df =
      if (survivors.isEmpty)
        // every file pruned: keep the schema, plan nothing (Catalyst folds
        // the false filter to an empty relation — no scan is scheduled)
        typed(scanOf(spark, Some(root), files.map(_._2), declared)).filter(lit(false))
      else
        // merge-on-read deletes apply to the pruned live view too (zone
        // maps stay conservative over DV'd rows — pruning never widens)
        typed(scanOf(spark, Some(root), survivors.map(_._2), declared, dvStore(spark, fs, root)))
    (df, PruneReport(files.size, survivors.size))
  }

  /** COPY-ON-WRITE LEAF REWRITE shared by compaction, [[mergeInto]],
    * [[purgeKeys]] and [[restoreTo]]: `write(tmp)` lays the leaf's new
    * content down under `_compact_tmp/<leaf>`, `onWritten` fires (the
    * verb's hook), and `fence` re-validates the writer at the last instant
    * before the swap renames — the write was a long job, and a zombie that
    * paused there must die with the rewrite still safely in `_compact_tmp`
    * (the live leaf untouched; the next [[recoverSweeps]] reaps the
    * orphan). The rewrite's parts are then stamped `gc<horizon>-p<k>`
    * ([[Lineage]]) and swapped in. With `retain` (compaction's
    * content-preserving rewrite, merge's and restore's content-CHANGING
    * ones — the crash-safety and time-travel discipline is identical; only
    * what sits in `tmp` differs):
    *
    *   - HISTORY-PRESERVING: the original leaf is renamed (not deleted)
    *     into `_graft_history/<horizon>/<leaf>` — the rename-aside that
    *     makes the swap crash-safe IS the retention of the pre-rewrite
    *     generation, so [[readAsOf]] keeps serving snapshots older than
    *     this horizon until [[vacuum]] prunes the generation (the
    *     Delta/Iceberg vacuum-window discipline from FS primitives);
    *   - a kill between the two renames leaves the original safe in
    *     history and the rewrite in `_compact_tmp`; [[recoverSweeps]]
    *     promotes the rewrite (target absent), completing — not rolling
    *     back — the swap;
    *   - a SAME-HORIZON retry (idempotent merge re-run, re-sweep after a
    *     crash) finds the generation already stored: that copy holds the
    *     leaf's pre-rewrite state with FINER lineage (the current content
    *     derives from it) — keep it, drop the current copy.
    *
    * Without `retain` (purge) or without a horizon (a lake with no ledger:
    * no lineage to stamp, no history) the swap is a [[swapAside]] — the
    * pre-rewrite copy is renamed aside for crash-safety only, then
    * deleted. Returns what `write` returned.
    */
  private def rewriteLeaf[A](
      spark: SparkSession,
      fs: FileSystem,
      root: Path,
      leafName: String,
      horizon: Option[Long],
      retain: Boolean,
      statsCols: Seq[String],
      verb: String,
      onWritten: () => Unit,
      fence: () => Unit)(write: Path => A): A = {
    val leaf = new Path(root, leafName)
    val tmp = new Path(new Path(root, TmpRoot), leafName)
    val written = write(tmp)
    onWritten()
    fence()
    val stamped = horizon.toSeq.flatMap(b => Lineage.place(fs, tmp, tmp, Lineage.rewrite(b)))
    horizon match {
      case Some(b) if retain =>
        // fresh zone maps for the rewrite (the original files' entries go
        // stale and point at names that no longer exist — harmless; vacuum
        // folds them away). Written BEFORE the swap so the entries exist the
        // instant the files are live; a crashed swap leaves advisory entries
        // for files recoverSweeps will promote or reap.
        writeFileStats(fs, spark.sparkContext.hadoopConfiguration, root,
          s"c$b.$leafName", stamped.map(leafName -> _), statsCols)
        retireLeaf(fs, root, leafName, b)
        require(fs.rename(tmp, leaf), s"rewrite swap failed for $leaf")
      case _ => swapAside(fs, root, leaf, tmp, verb)
    }
    written
  }

  /** Retire live leaf `leafName` into generation `_graft_history/<horizon>/`
    * — a rename, so the generation keeps the leaf's files and lineage. A
    * generation that already stores the leaf (a same-horizon retry) keeps
    * its copy and the live one is dropped.
    */
  private def retireLeaf(fs: FileSystem, root: Path, leafName: String, horizon: Long): Unit = {
    val leaf = new Path(root, leafName)
    val hist = new Path(new Path(new Path(root, HistoryRoot), horizon.toString), leafName)
    fs.mkdirs(hist.getParent)
    if (fs.exists(hist)) {
      fs.delete(leaf, true)
    } else if (fs.exists(leaf)) {
      require(fs.rename(leaf, hist), s"swap failed retiring $leaf into history")
    } else {
      // no live copy to retire — a restore RESURRECTING a leaf a prior
      // restore retired into history. The EMPTY generation dir records
      // that the leaf was absent from the live view just before this
      // commit: snapshots between the retire and the resurrection resolve
      // here (Right(Nil) — zero files) instead of erroring as
      // vacuumed-history, while older snapshots keep serving from the
      // deeper generation that holds the pre-retire content.
      fs.mkdirs(hist)
    }
  }

  /** SCHEMA REGISTRY — the Delta schema-in-log discipline from FS
    * primitives: the lake's data schema (WITHOUT the partition column)
    * lives in versioned `_graft_commits/_schema.<B>` files, one written
    * whenever commit B WIDENS it. Readers declare the registered schema
    * instead of sweeping footers (at 100 TB, mergeSchema is a
    * footer-read of every file; a declared schema is one small-file
    * read), parquet null-fills files that predate a column, and
    * [[readAsOf]] picks the schema AS OF its snapshot — a pre-evolution
    * snapshot correctly lacks the later column. Widening only: every
    * registered field must keep its name and type (drops/retypes fail
    * loudly — the rewrite-the-table migrations no log format does
    * implicitly). Versioned creates are atomic; no reader ever sees a
    * half-written current schema (the previous version keeps serving).
    */
  private def registeredSchema(
      fs: FileSystem, root: Path,
      asOf: Long = Long.MaxValue): Option[StructType] = {
    val versions = children(fs, ledgerDir(root)).filter(_.isFile).flatMap { s =>
      idAfter(s.getPath.getName, "_schema.").filter(_ <= asOf).map(_ -> s.getPath)
    }
    if (versions.isEmpty) None
    else Some(org.apache.spark.sql.types.DataType
      .fromJson(readSmallFile(fs, versions.maxBy(_._1)._2))
      .asInstanceOf[StructType])
  }

  /** The data schema a row-level rewrite declares: the registered union
    * schema when the registry exists (files that predate a widening
    * null-fill under the declared read); head-leaf inference only for a
    * pre-registry lake.
    */
  private def rewriteSchema(spark: SparkSession, fs: FileSystem, root: Path): StructType =
    registeredSchema(fs, root).getOrElse {
      val leaves = leafDirs(fs, root)
      require(leaves.nonEmpty, s"no $LeafPrefix leaves under $root")
      spark.read.parquet(leaves.head.toString).schema
    }

  /** Register commit `b`'s data schema if it widens the current one;
    * loud on anything that isn't pure widening. Call BEFORE the commit
    * marker so the schema is visible the instant the data is committed
    * (a crash in between replays both idempotently). Returns true iff a
    * `_schema.<b>` registration file was written (first registration or a
    * widening) — callers whose commit id can still move (OCC
    * forward-rename) use this to carry the association with them.
    */
  private def registerSchemaIfWidened(
      fs: FileSystem, root: Path, b: Long,
      dataSchema: StructType): Boolean = {
    registeredSchema(fs, root) match {
      case None =>
        writeSmallFile(fs, new Path(ledgerDir(root), s"_schema.$b"), dataSchema.json)
        true
      case Some(cur) =>
        val byName = dataSchema.fields.map(f => f.name -> f.dataType).toMap
        cur.fields.foreach { f =>
          require(byName.get(f.name).contains(f.dataType),
            s"commit $b would ${if (byName.contains(f.name)) "retype" else "drop"} " +
              s"registered column ${f.name}: ${f.dataType.simpleString} — the " +
              "schema registry is widening-only; narrowing or retyping needs " +
              "an explicit table rewrite")
        }
        val newFields = dataSchema.fields.filterNot(f => cur.fieldNames.contains(f.name))
        if (newFields.nonEmpty) {
          val union = StructType(cur.fields ++ newFields)
          writeSmallFile(fs, new Path(ledgerDir(root), s"_schema.$b"), union.json)
          System.err.println(s"[lake] commit $b widened the schema: +" +
            newFields.map(_.name).mkString(", "))
          true
        } else false
    }
  }

  /** The declared read schema for snapshot `asOf`: registered data schema
    * plus the partition column. None when the lake predates the registry
    * (readers fall back to inference).
    */
  private def declaredReadSchema(
      fs: FileSystem, root: Path,
      asOf: Long = Long.MaxValue): Option[StructType] =
    registeredSchema(fs, root, asOf)
      .map(_.add("event_date", DateType))

  /** The LIVE table read: declared registered schema (union across every
    * evolution — files predating a column null-fill) over partition
    * discovery. The one read entry point that is always
    * evolution-correct; a bare `spark.read.parquet(lakeDir)` infers from
    * one footer and can silently miss late columns.
    */
  def readLake(
      spark: SparkSession, lakeDir: String): DataFrame = {
    val (root, fs) = lakeFs(spark, lakeDir)
    require(fs.exists(root), s"no lake at $lakeDir")
    cloneMeta(fs, root) match {
      case Some((srcDir, asOf)) =>
        // SHALLOW-CLONE OVERLAY: source snapshot (with its own committed
        // DVs as of the pin — readAsOf applies them) for every leaf not
        // shadowed by a CoW, plus everything the clone wrote locally
        val srcSnap = readAsOf(spark, srcDir, asOf)
        val shadowed = shadowedLeaves(fs, root)
          .map(_.stripPrefix(LeafPrefix)).toSeq.sorted
        val srcPart =
          if (shadowed.isEmpty) srcSnap
          else srcSnap.filter(!col("event_date").cast("string").isin(shadowed: _*))
        val localLeaves = leafDirs(fs, root)
        if (localLeaves.isEmpty) srcPart
        else srcPart.unionByName(scanOf(spark, Some(root), localLeaves,
          declaredReadSchema(fs, root)), allowMissingColumns = true)
      case None =>
        // ONE directory scan of the root; committed deletion vectors
        // anti-apply here (merge-on-read); a lake with no `_graft_dv` pays
        // nothing — the plan is exactly the raw scan
        scanOf(spark, None, Seq(root), declaredReadSchema(fs, root), dvStore(spark, fs, root))
    }
  }

  /** Max committed id in the lake's ledger, -1 when none (or no ledger). */
  private[graft] def maxCommittedId(fs: FileSystem, root: Path): Long =
    ledgerIds(fs, root).lastOption.getOrElse(-1L)

  /** Batch append with a LAKE-ALLOCATED commit id (`max committed + 1`) —
    * the write verb for a table maintained by [[mergeInto]], where the
    * commit-id space is owned by the table, not by a streaming engine's
    * checkpoint (the Delta-architecture split: streams own a bronze lake
    * through [[datePartitioned]]'s engine-batch-id ledger; a merged silver
    * table allocates its own versions — mixing the two id spaces on one
    * table makes the next engine batch collide with a merge's marker,
    * which the atomic commit exchange turns into a LOUD stop, never a
    * silent double-commit).
    *
    * Exactly-once is the CALLER's to claim via `commitId` (the
    * [[tailCommits]] high-water-mark discipline): pass the id this append
    * is expected to land at — an existing marker makes the retry a no-op,
    * a gap fails loudly. With `commitId = None` every call appends.
    * Returns the committed id.
    */
  def appendBatch(
      spark: SparkSession,
      lakeDir: String,
      rows: DataFrame,
      tsCol: String = "ts",
      commitId: Option[Long] = None,
      statsCols: Seq[String] = Nil,
      fenceEpoch: Option[Long] = None,
      markerTag: Option[String] = None): Long = {
    val (root, fs) = lakeFs(spark, lakeDir)
    fs.mkdirs(root)
    val epoch = verbEpoch(fs, root, fenceEpoch)
    val b = admitCommitId(fs, root, commitId, "append") match {
      case Left(done) => return done
      case Right(b) => b
    }
    // schema validation + registration BEFORE any data movement: an append
    // that would narrow/retype dies with the lake untouched, and a widening
    // is registered ahead of its data (a crash in between leaves a wider
    // schema with no rows yet — nulls, harmless; the retry re-registers
    // idempotently)
    registerSchemaIfWidened(fs, root, b, rows.schema)
    val committed = stageAndCommit(fs, root, rows, tsCol, b, epoch, statsCols)
    checkWriterFence(fs, root, epoch)
    writeCommitMarker(fs, markerPath(root, b), b, committed, markerTag)
    fs.delete(stagingDir(root, b), true)
    b
  }

  /** Commit-id admission for the lake-allocated append verbs: the id to
    * commit (`commitId`, or the ledger head's next id when None) as Right,
    * or Left(commitId) when that id already has a marker — an idempotent
    * retry of a committed append. An id below the head WITHOUT a marker,
    * or above the head, fails loudly (out-of-order commit).
    */
  private def admitCommitId(
      fs: FileSystem, root: Path, commitId: Option[Long], verb: String): Either[Long, Long] = {
    val next = maxCommittedId(fs, root) + 1
    commitId match {
      case Some(id) if id < next =>
        require(fs.exists(markerPath(root, id)),
          s"$verb at commit $id is below the ledger head ($next) but has " +
            "no marker — the id was never committed here; refusing an " +
            "out-of-order append")
        System.err.println(s"[lake] $verb commit $id already in the " +
          "ledger — idempotent retry, skipping")
        Left(id)
      case Some(id) =>
        require(id == next, s"$verb expected to land at commit $id but the " +
          s"ledger head allocates $next — a competing writer advanced the " +
          "table (or the caller's high-water mark is stale); refusing to " +
          "commit out of order")
        Right(id)
      case None => Right(next)
    }
  }

  /** OPTIMISTIC multi-writer batch append — the verb that lets INDEPENDENT
    * writers (a merge job and an ingest tail, two backfill jobs) commit to
    * one table without serializing on the exclusive epoch fence,
    * Delta-style: commits stay totally ordered by the ledger, but a writer
    * that loses the atomic commit exchange RE-VALIDATES instead of dying —
    * every commit that landed since its id allocation must carry a
    * readable leaf list DISJOINT from its own; if so it renames its files
    * forward to the next id and retries the exchange. Only a genuine
    * logical conflict (overlapping leaf, torn marker it cannot reason
    * about, or a newly claimed exclusive epoch) dies — loudly, after
    * rolling its own uncommitted files back out, so no committed row is
    * ever lost.
    *
    * Contract (the consumer-group discipline): `writerId` names a logical
    * writer with AT MOST ONE live instance; file lineage is
    * `gb<id>-w<writerId>-p<i>` so every writer owns its names and the
    * forward rename can never touch a rival's files. A crashed attempt can
    * leave its files visible in live leaves until the writer's next call
    * reaps them (leftovers whose id has no `#occ <writerId>` marker) — the
    * same at-least-once window the staged-replay path already has; pass
    * `dedupKey` to make retries exactly-once (a marker already carrying
    * `writerId dedupKey` short-circuits without re-writing).
    *
    * The epoch fence is validated SHARED: the call observes the max epoch
    * at entry and refuses to commit if it advances mid-flight — an
    * exclusive writer (streaming sink, maintenance) still fences out every
    * OCC writer by claiming a new epoch, while OCC writers never fence
    * each other or the standing exclusive owner.
    */
  def appendBatchOcc(
      spark: SparkSession,
      lakeDir: String,
      rows: DataFrame,
      writerId: String,
      tsCol: String = "ts",
      dedupKey: Option[String] = None,
      maxAttempts: Int = 5,
      faultInjector: String => Unit = _ => ()): Long = {
    require(writerId.nonEmpty && writerId.forall(c => c.isLetterOrDigit || c == '_'),
      s"writerId '$writerId' must be alphanumeric (it becomes file lineage)")
    val (root, fs) = lakeFs(spark, lakeDir)
    fs.mkdirs(root)
    val sharedEpoch = maxWriterEpoch(fs, root)
    def checkShared(): Unit = {
      val m = maxWriterEpoch(fs, root)
      if (m != sharedEpoch) throw new IllegalStateException(
        s"OCC writer $writerId fenced: epoch advanced $sharedEpoch -> $m " +
          s"for $root — an exclusive writer claimed the lake mid-commit")
    }
    val ledger = ledgerDir(root)
    // (id, tag words after #occ) of THIS writer's committed markers —
    // O(retained ledger), which vacuum bounds
    def occCommits(): Seq[(Long, Seq[String])] =
      ledgerIds(fs, root).flatMap { id =>
        occTagOf(fs, markerPath(root, id)).filter(_.headOption.contains(writerId)).map(id -> _)
      }
    // exactly-once short-circuit: this batch already committed
    dedupKey.foreach { k =>
      occCommits().find(_._2.lift(1).contains(k)).foreach { case (id, _) =>
        System.err.println(s"[lake] occ append $writerId/$k already " +
          s"committed as $id — idempotent retry, skipping")
        return id
      }
    }
    // reap THIS writer's uncommitted leftovers (crashed attempt): my
    // lineage names whose id carries no #occ <writerId> marker. Only one
    // live instance holds this writerId, so the delete can never race a
    // rival's in-flight commit.
    val committedMine = occCommits().map(_._1).toSet
    leafDirs(fs, root).foreach { leaf =>
      fs.listStatus(leaf)
        .filter(f => f.isFile && Lineage.parse(f.getPath.getName).exists(l =>
          l.writer.contains(writerId) && !committedMine.contains(l.id)))
        .foreach { f =>
          System.err.println(s"[lake] occ reap: uncommitted leftover ${f.getPath.getName}")
          fs.delete(f.getPath, false)
        }
    }
    // schema registration is keyed to the TENTATIVE id; if this writer
    // loses the exchange and forward-renames, the registration file moves
    // with it (carrySchemaForward below) so schema-as-of reads associate
    // the widening with the commit that actually carries the columns
    var schemaRegisteredAt: Option[Long] = {
      val tentative = maxCommittedId(fs, root) + 1
      if (registerSchemaIfWidened(fs, root, tentative, rows.schema)) Some(tentative)
      else None
    }
    def carrySchemaForward(to: Long): Unit = schemaRegisteredAt.foreach { at =>
      if (at != to) {
        val src = new Path(ledger, s"_schema.$at")
        val dst = new Path(ledger, s"_schema.$to")
        if (fs.exists(src) && !fs.exists(dst) && fs.rename(src, dst))
          schemaRegisteredAt = Some(to)
      }
    }
    val staging = new Path(new Path(root, StagingRoot), s"occ-$writerId")
    stagedLeafShape(rows.withColumn("event_date", to_date(col(tsCol))))
      .write.partitionBy("event_date").mode("overwrite")
      .parquet(staging.toString)
    checkShared()
    var cur = maxCommittedId(fs, root) + 1
    carrySchemaForward(cur)
    // place staged parts into live leaves under my lineage names (no
    // committed file carries them: cur has no marker yet)
    val placedLeaves = commitStaged(fs, root, staging, Lineage.occ(cur, writerId)).map(_._1)
    faultInjector("placed")
    // my files at the current tentative id, leaf by leaf
    def mine(): Seq[(Path, FileStatus)] = placedLeaves.map(new Path(root, _)).flatMap { l =>
      fs.listStatus(l).toSeq
        .filter(f => f.isFile && f.getPath.getName.startsWith(Lineage.occ(cur, writerId)))
        .map(l -> _)
    }
    // my placed files and my staging, out
    def rollback(): Unit = {
      mine().foreach(f => fs.delete(f._2.getPath, false))
      fs.delete(staging, true)
    }
    val tag = Some((Seq(MarkerOcc, writerId) ++ dedupKey).mkString(" "))
    var attempt = 0
    while (true) {
      attempt += 1
      try checkShared()
      catch { case e: Throwable => rollback(); throw e }
      try {
        writeCommitMarker(fs, new Path(ledger, cur.toString), cur,
          placedLeaves.sorted, tag)
        fs.delete(staging, true)
        System.err.println(s"[lake] occ append $writerId committed as $cur " +
          s"(${placedLeaves.size} leaves, attempt $attempt)")
        return cur
      } catch {
        case e: IllegalStateException =>
          // writeCommitMarker wraps ANY create-side IOException into
          // IllegalStateException — 'marker already exists' (lost the
          // exchange) and a transient IO failure where NO marker landed
          // both arrive here. Distinguish them before consulting the
          // winner: on a genuine IO failure there is no winner to read
          // (readMarkerLeaves would throw FileNotFoundException straight
          // past the rollback), and the writer must clean up like the
          // fence path — otherwise its placed-but-uncommitted files stay
          // visible in live leaves as dirty reads and the staging leaks.
          if (!fs.exists(new Path(ledger, cur.toString))) {
            rollback()
            throw new IllegalStateException(
              s"OCC marker write failed for $writerId at $cur with no marker " +
                s"present — IO failure, not a lost exchange; rolled back, " +
                "no committed rows lost", e)
          }
          // lost the exchange: someone committed `cur` first. Logical
          // conflict detection, Delta-style: the winner's leaf list must
          // be readable and disjoint from mine.
          val winnerLeaves =
            readMarkerLeaves(fs, new Path(ledger, cur.toString))
          val overlap = winnerLeaves.map(_.toSet.intersect(placedLeaves.toSet))
          val conflict = winnerLeaves.isEmpty || overlap.exists(_.nonEmpty)
          if (conflict || attempt >= maxAttempts) {
            rollback()
            throw new IllegalStateException(
              if (winnerLeaves.isEmpty)
                s"OCC conflict: commit $cur landed with an unreadable (torn) " +
                  s"marker — cannot prove disjointness; $writerId rolled back, " +
                  "no committed rows lost"
              else if (overlap.exists(_.nonEmpty))
                s"OCC conflict: commit $cur touched " +
                  s"${overlap.get.toSeq.sorted.mkString(", ")} which $writerId " +
                  "is also writing — concurrent writers must be leaf-disjoint; " +
                  "rolled back, no committed rows lost"
              else
                s"OCC exhausted $maxAttempts attempts for $writerId (hot " +
                  "ledger); rolled back, no committed rows lost")
          }
          // disjoint: carry my files forward to the next id and retry
          val next = cur + 1
          carrySchemaForward(next)
          mine().foreach { case (l, f) =>
            val dst = new Path(l, Lineage.occ(next, writerId) +
              f.getPath.getName.stripPrefix(Lineage.occ(cur, writerId)))
            require(fs.rename(f.getPath, dst),
              s"occ forward rename failed for ${f.getPath}")
          }
          cur = next
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private val QuarantineRoot = "_graft_quarantine"

  /** WRITE-TIME EXPECTATIONS — data-quality CHECK rules enforced at the
    * append edge, with violating rows QUARANTINED instead of committed
    * (the training-data-pipeline gate: Delta ships it as table CHECK
    * constraints that FAIL the write, DLT as expectations that drop or
    * quarantine; a 100 TB ingest wants the quarantine form — one poison
    * row must neither kill the pipeline nor silently enter the corpus).
    *
    * Each rule is (name, SQL boolean expr over the row). A row passes iff
    * EVERY rule evaluates to true; `null` is a VIOLATION (DLT semantics,
    * deliberately stricter than SQL CHECK's null-passes — a quality gate
    * that waves through unevaluable rows is not a gate). Violating rows
    * land under `_graft_quarantine/b<id>/` carrying `_violations` (csv of
    * failed rule names, declaration order) and `_commit_id` — the audit
    * trail reviewers triage and re-ingest from.
    *
    * Atomicity rides the live append's marker: quarantine files are
    * written (mode=overwrite, so a crash-replay converges) BEFORE
    * [[appendBatch]] commits the passing rows at the SAME claimed id —
    * marker present means both halves landed; marker absent means the
    * whole batch replays. The retry short-circuit mirrors appendBatch's.
    * Cost: two passes over the micro-batch (pass + fail filters, both
    * pushed to the source scan) — no cache, safe under streaming.
    */
  def appendWithExpectations(
      spark: SparkSession,
      lakeDir: String,
      rows: DataFrame,
      expectations: Seq[(String, String)],
      tsCol: String = "ts",
      commitId: Option[Long] = None,
      fenceEpoch: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, concat_ws, expr, when}
    require(expectations.nonEmpty,
      "appendWithExpectations with no rules — use appendBatch")
    val (root, fs) = lakeFs(spark, lakeDir)
    fs.mkdirs(root)
    val epoch = verbEpoch(fs, root, fenceEpoch)
    val b = admitCommitId(fs, root, commitId, "expectations append") match {
      case Left(done) => return done
      case Right(b) => b
    }
    val violCol = concat_ws(",", expectations.map { case (name, pred) =>
      when(coalesce(expr(pred), lit(false)), lit(null).cast("string"))
        .otherwise(lit(name))
    }: _*)
    val flagged = rows.withColumn("_violations", violCol)
    flagged.filter(col("_violations") =!= "")
      .withColumn("_commit_id", lit(b))
      .write.mode("overwrite")
      .parquet(new Path(new Path(root, QuarantineRoot), s"b$b").toString)
    checkWriterFence(fs, root, epoch)
    appendBatch(spark, lakeDir,
      flagged.filter(col("_violations") === "").drop("_violations"),
      tsCol, Some(b), Nil, Some(epoch), markerTag = Some(MarkerExpect))
  }

  /** The quarantine as a relation: every violating row ever gated by
    * [[appendWithExpectations]], with `_violations` and `_commit_id`.
    * A quarantine dir serves iff its commit's marker carries the
    * [[MarkerExpect]] tag — that both drops batches whose marker never
    * landed (crash before commit) AND keeps an orphaned quarantine write
    * invisible when its id is later claimed by a DIFFERENT verb (a plain
    * append at that id must not surface rejects of a batch that never
    * went through the gate). Retention is the caller's policy (the dirs
    * are outside data discovery; vacuum does not touch them).
    *
    * ON-DISK FORMAT NOTE (r16 marker-tag gating): this read serves only
    * `#expect`-tagged commits, and [[shadowedLeaves]] requires `#cow` —
    * lakes written by a pre-tagging build (whose markers are untagged)
    * are NOT grandfathered: their quarantine rejects and CoW shadows go
    * inert on upgrade. Every lake in this repo is built fresh per run
    * from the parquet fixtures, so no persisted lake crosses the format
    * break; a deployment that persists lakes across upgrades would need
    * a one-shot marker-tag migration first.
    */
  def readQuarantine(
      spark: SparkSession, lakeDir: String): DataFrame = {
    val (root, fs) = lakeFs(spark, lakeDir)
    val q = new Path(root, QuarantineRoot)
    require(fs.exists(q), s"no quarantine under $lakeDir")
    val gated: Seq[Long] = fs.listStatus(q).toSeq
      .filter(_.isDirectory).flatMap(s => idAfter(s.getPath.getName, "b"))
      .filter(committedAs(fs, root, _, MarkerExpect))
    spark.read.option("recursiveFileLookup", "true").parquet(q.toString)
      .filter(col("_commit_id").isin(gated: _*))
  }

  private val CloneFile = "_graft_clone"
  private val ShadowRoot = "_graft_shadow"

  /** Parse a clone's pin, or None for a regular lake. */
  private def cloneMeta(
      fs: FileSystem, root: Path): Option[(String, Long)] = {
    val p = new Path(root, CloneFile)
    if (!fs.exists(p)) None
    else {
      val lines = readSmallFile(fs, p).split('\n').toSeq
      require(lines.length >= 2 && lines(1).forall(_.isDigit),
        s"torn clone pin under $root")
      Some(lines.head -> lines(1).toLong)
    }
  }

  private def requireNotClone(
      fs: FileSystem, root: Path, verb: String): Unit =
    require(!fs.exists(new Path(root, CloneFile)),
      s"$verb is unsupported on a shallow clone ($root) — materialize the " +
        "clone into a regular table first (read it, write it) or run the " +
        "verb on the source")

  /** Leaf names whose shadow marker is EFFECTIVE: the marker exists AND
    * the commit it references is in the clone's local ledger AND that
    * commit is [[MarkerCow]]-tagged — i.e. it is the CoW materialization
    * itself, not an unrelated commit that happened to claim the same id.
    * A crash between marker and materialization leaves the marker inert
    * (the leaf keeps serving from the source); a plain clone-local append
    * that then claims the referenced id leaves it inert TOO (its marker
    * is untagged), so clone reads can never drop source rows behind a
    * shadow with no CoW content. Only the cloneMerge retry — whose CoW
    * commit rewrites the shadow markers to its own tagged id — activates
    * them.
    */
  private def shadowedLeaves(
      fs: FileSystem, root: Path): Set[String] = {
    children(fs, new Path(root, ShadowRoot)).filter(_.isFile)
      .filter(m => idAfter(readSmallFile(fs, m.getPath).trim, "")
        .exists(committedAs(fs, root, _, MarkerCow)))
      .map(_.getPath.getName).toSet
  }

  /** SHALLOW CLONE — a zero-copy writable branch of `srcDir` pinned at
    * its current head (Delta `CREATE TABLE ... SHALLOW CLONE`): the clone
    * directory holds only a pin file, its own (empty) ledger namespace,
    * and whatever the clone WRITES; reads overlay local state over the
    * source snapshot. The dev/test verb at 100 TB — branch production
    * data without copying a byte; writes touch only the clone.
    *
    * Overlay semantics ([[readLake]]): a leaf SHADOWED by a copy-on-write
    * ([[cloneMerge]]) serves from the clone only; every other leaf serves
    * the source snapshot UNION the clone's local appends. Time travel,
    * restore, DV deletes, purge, compaction, and vacuum are LOUDLY
    * unsupported on the clone (materialize it first); appends and merges
    * work. The Delta caveat carries over verbatim: the clone references
    * the source's files at the pinned snapshot, so a source [[vacuum]]
    * that prunes the pinned generation BREAKS the clone (the read fails
    * loudly through [[readAsOf]]'s lost-window contract, never serves a
    * part-snapshot).
    */
  def cloneTable(
      spark: SparkSession,
      srcDir: String,
      dstDir: String): Long = {
    val (src, fs) = lakeFs(spark, srcDir)
    val dst = new Path(dstDir)
    require(fs.exists(src), s"no lake at $srcDir")
    requireNotClone(fs, src, "cloning a clone")
    val asOf = maxCommittedId(fs, src)
    require(asOf >= 0, s"clone needs a ledgered source (no commits under $srcDir)")
    require(!fs.exists(dst) || fs.listStatus(dst).isEmpty,
      s"clone target $dstDir is not empty")
    fs.mkdirs(dst)
    writeSmallFile(fs, new Path(dst, CloneFile), s"$srcDir\n$asOf")
    asOf
  }

  /** MERGE INTO a shallow clone: COPY-ON-WRITE the touched source leaves
    * into the clone (one claimed-id local append of the snapshot slice,
    * shadow markers written first via tmp+rename so existence implies
    * complete content, effective only once their commit lands — the
    * crash-ordering that can neither double-serve nor drop rows), then a
    * plain local [[mergeInto]]. Cost: O(touched leaves) copied ONCE per
    * leaf lifetime — the first write to a branched leaf pays its
    * materialization, exactly Delta's shallow-clone CoW bill.
    */
  def cloneMerge(
      spark: SparkSession,
      cloneDir: String,
      upserts: DataFrame,
      keyCol: String,
      deletes: DataFrame,
      tsCol: String = "ts",
      targetFileBytes: Long = 128L << 20): MergeStats = {
    val (root, fs) = lakeFs(spark, cloneDir)
    val (srcDir, asOf) = cloneMeta(fs, root).getOrElse(
      throw new IllegalArgumentException(s"$cloneDir is not a shallow clone"))
    // k-bounded probe: one row per touched date
    val dates = upserts.select(to_date(col(tsCol)).cast("string").as("__d"))
      .unionByName(deletes.select(to_date(col(tsCol)).cast("string").as("__d")))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    val srcSnap = readAsOf(spark, srcDir, asOf)
    val already = shadowedLeaves(fs, root)
    val srcDates = srcSnap
      .filter(col("event_date").cast("string").isin(dates: _*))
      .select(col("event_date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val needCow = dates.filter(d =>
      srcDates.contains(d) && !already.contains(s"event_date=$d"))
    if (needCow.nonEmpty) {
      val b = maxCommittedId(fs, root) + 1
      val shadowDir = new Path(root, ShadowRoot)
      fs.mkdirs(shadowDir)
      needCow.foreach { d =>
        val tmp = new Path(shadowDir, s".tmp.event_date=$d")
        writeSmallFile(fs, tmp, b.toString)
        val marker = new Path(shadowDir, s"event_date=$d")
        fs.delete(marker, false) // stale inert marker from a crashed attempt
        require(fs.rename(tmp, marker), s"shadow marker rename failed for $d")
      }
      val dataCols = srcSnap.columns.filterNot(_ == "event_date").map(col)
      appendBatch(spark, cloneDir,
        srcSnap.filter(col("event_date").cast("string").isin(needCow: _*))
          .select(dataCols.toIndexedSeq: _*),
        tsCol, commitId = Some(b), markerTag = Some(MarkerCow))
    }
    mergeIntoImpl(spark, cloneDir, upserts, keyCol, deletes, tsCol,
      targetFileBytes, maxConcurrency = 8, fenceEpoch = None,
      statsCols = Nil, recordChanges = false, faultInjector = _ => (), cloneVerb = None)
  }

  /** Per-restore outcome: the commit the restore landed at, the snapshot
    * it rolled back to, the leaves rewritten from snapshot content, and
    * the leaves retired wholesale (created entirely after the snapshot).
    */
  final case class RestoreStats(
      commitId: Long,
      asOf: Long,
      rewrittenLeaves: Seq[String],
      retiredLeaves: Seq[String],
      resurrectedLeaves: Seq[String] = Nil)

  /** RESTORE — roll the live table back to snapshot `asOf` AS A NEW
    * COMMIT (Delta `RESTORE TABLE ... TO VERSION AS OF`): the live view
    * becomes [[readAsOf]]`(asOf)`, history is PRESERVED (post-restore,
    * time travel still serves every version — including the rolled-back
    * ones), and the restore itself is version `M = head + 1`.
    *
    * Delta restores metadata-only by editing the file manifest; this lake
    * has no manifest — the live view IS the directory listing — so the
    * equivalent lever is the sweep machinery: restore is a COMPACTION
    * WHOSE REWRITE CONTENT IS THE SNAPSHOT, touching ONLY leaves that
    * changed after `asOf` (post-`asOf` lineage, or targeted by a
    * post-`asOf` deletion-vector generation — a DV flips logical content
    * without moving files). Per changed leaf, [[rewriteLeaf]] at
    * horizon `M` renames the pre-restore state into
    * `_graft_history/M/<leaf>` and swaps in `gc<M>` files holding the
    * snapshot content; a leaf with no snapshot content (born after
    * `asOf`) retires wholesale into the same generation. The lineage
    * algebra then serves every era correctly with no special cases:
    * `x >= M` reads the restored `gc<M>` files; `asOf < x < M` hits
    * `gc<M> > x`, falls back to generation `M` = the pre-restore state;
    * `x <= asOf` resolves through older generations exactly as before
    * (restore deletes nothing). Post-`asOf` DV generations keep serving
    * those mid-era snapshots; they never touch the live view because DV
    * entries address (leaf, file) NAMES and the restored files are new
    * names. Unchanged leaves are never listed, read, or rewritten —
    * restore is O(churn since asOf), not O(table).
    *
    * Sequencing: ONE Spark job materializes the snapshot slice of every
    * changed leaf into `_restore_stage` BEFORE any rename (no
    * read-after-swap hazard), then the swaps are pure renames. A crash
    * anywhere re-runs idempotently: the marker is absent so `M` is
    * re-allocated, a half-swapped leaf still serves its snapshot via
    * generation `M`'s fallback, and [[rewriteLeaf]]'s
    * same-horizon branch converges. Fenced like every mutation; the
    * marker (tagged `#rewrite` — its files are rewrites, not appends)
    * lands LAST via the atomic commit exchange.
    *
    * Deliberate deltas from Delta, documented: no CDF records are emitted
    * for the restore (a [[tailChanges]] range crossing `M` fails loudly
    * instead of silently skipping the rollback), and the schema registry
    * keeps the head schema (restore never narrows — pre-widening
    * snapshot content null-fills, the same read rule as every old file).
    */
  def restoreTo(
      spark: SparkSession,
      lakeDir: String,
      asOf: Long,
      fenceEpoch: Option[Long] = None,
      faultInjector: String => Unit = _ => ()): RestoreStats = {
    val Verb(root, fs, epoch, m) = openVerb(spark, lakeDir, fenceEpoch, Some("restoreTo"))
    val head = m - 1
    require(head >= 0, s"restore needs a ledgered lake (no commits under $lakeDir)")
    require(asOf >= 0 && asOf <= head,
      s"restore target $asOf outside the committed range [0, $head]")
    if (asOf == head) return RestoreStats(head, asOf, Nil, Nil)

    def lineageOf(n: String): Long = {
      val lineage = Lineage.parse(n)
      require(lineage.nonEmpty, s"$n carries no batch lineage — this lake was " +
        "not (only) written by LakeSink; restore undefined")
      lineage.get.id
    }
    // leaves whose LOGICAL content moved after asOf via a deletion-vector
    // generation (file set unchanged — the listing alone would miss them)
    val dvTouched: Set[String] = numbered(fs, new Path(root, DvRoot))
      .collect { case (id, g) if g.isDirectory && id > asOf && id <= head => g.getPath }
      .flatMap { g =>
        val t = new Path(g, DvTargetsFile)
        require(fs.exists(t), s"DV generation ${g.getName} has no " +
          "targets manifest — cannot bound the restore's leaf set")
        val targets = readSealed(fs, t)
        require(targets.isDefined, s"DV generation ${g.getName} has a torn " +
          "targets manifest — cannot bound the restore's leaf set")
        targets.get.map(_.split('/').head)
      }.toSet
    val liveLeaves = leafDirs(fs, root).map(_.getName)
    val changed = liveLeaves.filter { l =>
      dvTouched.contains(l) ||
        parquetFiles(fs, new Path(root, l)).exists(f => lineageOf(f.getPath.getName) > asOf)
    }
    // leaves retired into _graft_history by a PRIOR restore are not live,
    // but the snapshot at asOf may still hold their rows — e.g. undoing a
    // restore (restoreTo(5) after an earlier restoreTo(2) retired a leaf
    // born in (2, 5]). readAsOf serves them from their generation through
    // the history index; the restored LIVE view must RESURRECT them, or it
    // silently diverges from readAsOf(asOf). Which of them have content at
    // asOf is decided by the staging write below.
    val histOnly: Seq[String] = historyIndex(fs, root).flatMap(_.leaves)
      .distinct.filterNot(liveLeaves.contains).sorted
    if (changed.isEmpty && histOnly.isEmpty) {
      // nothing moved since asOf (pure no-op commits in between) — still a
      // commit, so readAsOf(M) is well-defined and the caller's version
      // arithmetic holds
      writeCommitMarker(fs, markerPath(root, m), m, Nil, Some(MarkerRewrite))
      return RestoreStats(m, asOf, Nil, Nil)
    }

    // ONE job stages the snapshot slice of every changed or resurrectable
    // leaf; the snapshot listing runs against the untouched table (no
    // rename has happened yet)
    val snap = readAsOf(spark, lakeDir, asOf)
    val changedDates = (changed ++ histOnly).map(_.stripPrefix(LeafPrefix))
    val stage = new Path(root, "_restore_stage")
    fs.delete(stage, true) // crashed attempt's leftovers
    snap.filter(col("event_date").cast("string").isin(changedDates: _*))
      .repartition(col("event_date"))
      .write.partitionBy("event_date").mode("overwrite")
      .parquet(stage.toString)
    faultInjector("staged")
    checkWriterFence(fs, root, epoch)

    val staged = leafDirs(fs, stage).map(_.getName).toSet
    val (rewritten, retired) = changed.partition(staged.contains)
    // history-resident leaves with snapshot content: re-materialize live
    // (those without stay retired — they legitimately had no rows at asOf)
    val resurrected = histOnly.filter(staged.contains)
    if (rewritten.isEmpty && retired.isEmpty && resurrected.isEmpty) {
      fs.delete(stage, true)
      writeCommitMarker(fs, markerPath(root, m), m, Nil, Some(MarkerRewrite))
      return RestoreStats(m, asOf, Nil, Nil)
    }
    // zone maps for the restored files, on every column the lake already
    // keeps them for (read from its sidecars) — without them readPruned
    // scans each restored leaf in full until a later rewrite
    val statsCols = statsLines(fs, root).map(_.split('\t'))
      .collect { case Array(_, c, _, _) => c }.distinct.sorted
    val tmpRoot = new Path(root, TmpRoot)
    fs.mkdirs(tmpRoot)
    (rewritten ++ resurrected).foreach { l =>
      rewriteLeaf(spark, fs, root, l, Some(m), retain = true, statsCols, "restore",
        () => (), () => checkWriterFence(fs, root, epoch)) { tmp =>
        fs.delete(tmp, true)
        require(fs.rename(new Path(stage, l), tmp),
          s"restore failed staging $l into the sweep namespace")
      }
      faultInjector(s"swapped:$l")
    }
    retired.foreach { l =>
      checkWriterFence(fs, root, epoch)
      retireLeaf(fs, root, l, m)
      faultInjector(s"retired:$l")
    }
    fs.delete(stage, true)
    faultInjector("pre-marker")
    checkWriterFence(fs, root, epoch)
    writeCommitMarker(fs, markerPath(root, m), m,
      (rewritten ++ retired ++ resurrected).sorted, Some(MarkerRewrite))
    RestoreStats(m, asOf, rewritten, retired, resurrected)
  }

  /** Per-merge outcome: the allocated commit id, the leaves rewritten
    * copy-on-write (matched keys present), and the leaves that took a
    * plain `gb<id>` insert append (no matches there).
    */
  final case class MergeStats(
      commitId: Long,
      rewrittenLeaves: Seq[String],
      appendedLeaves: Seq[String])

  /** MERGE INTO — the copy-on-write upsert/delete verb (Delta
    * `MERGE WHEN MATCHED UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED
    * INSERT`), partition-scoped:
    *
    *   - `upserts` carries FULL lake-schema rows; a row whose `keyCol`
    *     matches an existing row in ITS OWN date leaf replaces it, an
    *     unmatched row inserts. `deletes` carries (key, ts) pairs — the
    *     event time addresses the leaf to delete from. This is the
    *     partition-pruned merge every Delta deployment writes (`ON t.key =
    *     s.key AND t.date = s.date`): matching is scoped to the source
    *     rows' own partitions, so the find-touched-files scan reads only
    *     those leaves, never the table (at 100 TB the unscoped form is a
    *     full-table join — the documented anti-pattern). A row that moves
    *     dates is expressed as delete(old ts) + upsert(new ts).
    *
    *   - ONLY leaves holding matched keys are rewritten (one
    *     [[rewriteLeaf]] each — `gc<B>` stamp, pre-merge state
    *     retained under `_graft_history/<B>/`, so [[readAsOf]] serves
    *     pre-merge snapshots until [[vacuum]] prunes them); insert-only
    *     leaves take a plain `gb<B>` append through [[commitStaged]] —
    *     untouched leaves are never listed, read, or rewritten.
    *
    *   - the merge is ONE commit: id B = max committed + 1 (lake-allocated
    *     — see [[appendBatch]] for why engine-batch-id tables must not be
    *     merge targets while their stream can still resume), marker written
    *     LAST via the atomic commit exchange. A crash at any instant
    *     re-runs idempotently: the same B is re-allocated (marker absent),
    *     a re-merged leaf converges (anti-join removes what the union
    *     re-adds), [[rewriteLeaf]]'s same-horizon branch keeps the
    *     finer-lineage history copy, and [[commitStaged]] rolls back the
    *     crashed attempt's `gb<B>` files before renaming fresh ones in.
    *
    *   - FENCED like every mutation: pass a claimed epoch or one is
    *     acquired here (fencing out a paused stream writer — merge IS the
    *     writer while it runs).
    *
    * `faultInjector(point)` is the crash-simulation hook
    * (`"rewritten:<leaf>"` after each leaf swap, `"staged-inserts"` before
    * the insert commit, `"pre-marker"` before the marker).
    */
  def mergeInto(
      spark: SparkSession,
      lakeDir: String,
      upserts: DataFrame,
      keyCol: String,
      deletes: DataFrame,
      tsCol: String = "ts",
      targetFileBytes: Long = 128L << 20,
      maxConcurrency: Int = 8,
      fenceEpoch: Option[Long] = None,
      statsCols: Seq[String] = Nil,
      recordChanges: Boolean = false,
      faultInjector: String => Unit = _ => ()): MergeStats = {
    // a direct merge on a shallow clone would match only LOCAL rows and
    // silently insert duplicates of un-CoW'd source keys — [[cloneMerge]]
    // is the clone's merge verb (CoW first, then this impl)
    mergeIntoImpl(spark, lakeDir, upserts, keyCol, deletes, tsCol,
      targetFileBytes, maxConcurrency, fenceEpoch, statsCols, recordChanges,
      faultInjector, cloneVerb = Some("mergeInto"))
  }

  private def mergeIntoImpl(
      spark: SparkSession,
      lakeDir: String,
      upserts: DataFrame,
      keyCol: String,
      deletes: DataFrame,
      tsCol: String,
      targetFileBytes: Long,
      maxConcurrency: Int,
      fenceEpoch: Option[Long],
      statsCols: Seq[String],
      recordChanges: Boolean,
      faultInjector: String => Unit,
      cloneVerb: Option[String]): MergeStats = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val Verb(root, fs, epoch, b) = openVerb(spark, lakeDir, fenceEpoch, cloneVerb)
    require(b > 0, s"merge into $lakeDir needs a ledgered lake (no commits " +
      "found) — lay the table down via appendBatch/datePartitioned first")
    val lakeSchema = rewriteSchema(spark, fs, root)
    require(upserts.schema.fields.map(f => (f.name, f.dataType)).toSet ==
      lakeSchema.fields.map(f => (f.name, f.dataType)).toSet,
      s"upserts schema ${upserts.schema.simpleString} does not match the " +
        s"lake's ${lakeSchema.simpleString} — merge rewrites leaves " +
        "wholesale, a schema drift here would corrupt them")

    // SOURCE MATERIALIZATION — the snapshot-isolation half of Delta's
    // MERGE contract: a source that derives from the TARGET (the SCD2
    // close-out shape — "read my current rows, close them, merge back")
    // would otherwise be re-evaluated lazily against data files the
    // rewrite below has already renamed into history, failing the read
    // (or worse, under eventual-consistency stores, silently shifting).
    // Eager localCheckpoint pins the source's CONTENT before the first
    // rename; cost is O(churn) blocks, the size the source already is by
    // the partition-scoped contract.
    val srcUpserts = upserts.localCheckpoint(true)
    val srcDeletes = deletes.localCheckpoint(true)

    // the (key, date) match scope — null event times cannot address a leaf
    val upsertKeys = srcUpserts.select(col(keyCol),
      to_date(col(tsCol)).cast("string").as("__d"))
    val deleteKeys = srcDeletes.select(col(keyCol),
      to_date(col(tsCol)).cast("string").as("__d"))
    val allKeys = upsertKeys.unionByName(deleteKeys).cache()
    try {
      require(allKeys.filter(col("__d").isNull).isEmpty,
        "merge rows with a null event time cannot address a partition — " +
          "scope them explicitly (the partition-scoped merge contract)")
      // duplicate SOURCE keys make the merge ill-defined (two rows claim
      // one target key; the anti-join+union would keep both) — the same
      // contract Delta's MERGE enforces with its multiple-source-rows
      // error. k-row probe: at most one offending row is fetched.
      val dupKey = upsertKeys.groupBy(col(keyCol), col("__d"))
        .count().filter(col("count") > 1).limit(1).collect()
      require(dupKey.isEmpty,
        s"upserts carry duplicate rows for $keyCol=${if (dupKey.isEmpty) "" else dupKey(0).get(0)} " +
          "in one partition — a merge target key must have exactly one " +
          "source row (dedupe the source first, e.g. latest-per-key)")
      // k-bounded driver probe: one row per affected DATE (the same class
      // as the sink's dirty set), never per key
      val dates = allKeys.select("__d").distinct()
        .collect().map(_.getString(0)).sorted
      val (existing, fresh) = dates.partition(d =>
        fs.exists(new Path(root, s"$LeafPrefix$d")))

      // find-touched-leaves: read ONLY the scoped leaves, semi-join the
      // broadcast key set — the O(scoped-partitions) scan every MERGE pays.
      // Committed deletion vectors anti-apply first: a DV'd row must not
      // match (it would resurrect as an update pre-image or survive the
      // rewrite below)
      val dvM = dvStore(spark, fs, root)
      val scoped: Option[DataFrame] =
        if (existing.isEmpty) None
        else Some(scanOf(spark, Some(root), existing.map(d => new Path(root, s"$LeafPrefix$d")),
          Some(lakeSchema.add("event_date", DateType)), dvM))
      val matched: Set[String] = scoped.fold(Set.empty[String]) { sc =>
        sc.select(col(keyCol), col("event_date").cast("string").as("__d"))
          .join(broadcast(allKeys), Seq(keyCol, "__d"), "left_semi")
          .select("__d").distinct().collect().map(_.getString(0)).toSet
      }

      // CHANGE-DATA-FEED record (`_graft_cdc/<B>/`, the Delta CDF shape):
      // the merge's row-level changes, captured BEFORE any leaf is
      // rewritten (pre-images must come from the pre-merge state) and made
      // durable-or-absent by a tmp-dir rename — a RETRY that finds the
      // complete record SKIPS recomputation, because after a partial
      // rewrite the live leaves no longer hold the true pre-images. This
      // is what lets [[tailChanges]] serve a merge commit instead of
      // refusing it the way [[tailCommits]] must.
      if (recordChanges) {
        if (fs.exists(cdcDir(root, b))) System.err.println(
          s"[lake] merge retry: change record for commit $b already " +
            "complete — keeping the first attempt's pre-images")
        else {
          val dated = srcUpserts.withColumn("event_date", to_date(col(tsCol)))
          val upsertKeySet = upsertKeys.distinct()
          val changes = scoped match {
            case None => // brand-new dates only: every upsert is an insert
              dated.withColumn("_op", lit("insert"))
            case Some(sc) =>
              // pre-images: the matched rows, op by whether the key is
              // also upserted (update) or only deleted
              val preOps = sc.withColumn("__d", col("event_date").cast("string"))
                .join(broadcast(allKeys.distinct()), Seq(keyCol, "__d"), "left_semi")
                .join(broadcast(upsertKeySet.withColumn("__u", lit(1))),
                  Seq(keyCol, "__d"), "left_outer")
                .withColumn("_op", org.apache.spark.sql.functions
                  .when(col("__u").isNotNull, lit("update_pre"))
                  .otherwise(lit("delete")))
                .drop("__u", "__d")
              // post-images: every upsert, op by whether it matched a
              // pre-merge row
              val scKeys = sc.select(col(keyCol),
                col("event_date").cast("string").as("__d")).distinct()
                .withColumn("__m", lit(1))
              val postOps = dated.withColumn("__d", col("event_date").cast("string"))
                .join(broadcast(scKeys), Seq(keyCol, "__d"), "left_outer")
                .withColumn("_op", org.apache.spark.sql.functions
                  .when(col("__m").isNotNull, lit("update_post"))
                  .otherwise(lit("insert")))
                .drop("__m", "__d")
              preOps.unionByName(postOps)
          }
          writeChangeRecord(fs, root, b, changes)
        }
      }

      // copy-on-write rewrites, fanned like compaction's sweep
      def mergeOne(d: String): String = {
        val leafName = s"$LeafPrefix$d"
        val leaf = new Path(root, leafName)
        rewriteLeaf(spark, fs, root, leafName, Some(b), retain = true, statsCols, "merge",
          () => faultInjector(s"rewritten:$leafName"),
          () => checkWriterFence(fs, root, epoch)) { tmp =>
          // declare the union schema: a leaf holding files from both sides
          // of a widening must read every file, null-filling the old ones.
          // DV'd rows are filtered out of the rewrite (materialized), never
          // resurrected
          val current = scanOf(spark, None, Seq(leaf), Some(lakeSchema), dvM)
          val keysHere = allKeys.filter(col("__d") === d).select(keyCol)
          val upsertsHere = srcUpserts.filter(to_date(col(tsCol)).cast("string") === d)
            .select(current.columns.map(col): _*)
          val merged = current
            .join(broadcast(keysHere), Seq(keyCol), "left_anti")
            .unionByName(upsertsHere)
          merged.repartition(rewriteFileCount(parquetFiles(fs, leaf), targetFileBytes))
            .write.mode("overwrite").parquet(tmp.toString)
        }
        leafName
      }
      val rewritten = fanOut(matched.toSeq.sorted, maxConcurrency)(mergeOne)

      // pure inserts (no match in their leaf, or the leaf is new): plain
      // gb<B> append — rewritten leaves already carry their upserts
      val insertDates = (existing.filterNot(matched) ++ fresh).toSet
      val appended: Seq[String] =
        if (insertDates.isEmpty) Seq.empty
        else {
          val ins = srcUpserts
            .filter(to_date(col(tsCol)).cast("string").isInCollection(insertDates))
          if (ins.isEmpty) Seq.empty
          else {
            val committed = stageAndCommit(fs, root, ins, tsCol, b, epoch,
              statsCols, () => faultInjector("staged-inserts"))
            fs.delete(stagingDir(root, b), true)
            committed
          }
        }

      faultInjector("pre-marker")
      checkWriterFence(fs, root, epoch)
      writeCommitMarker(fs, markerPath(root, b), b,
        rewritten ++ appended, markerTag = Some(MarkerRewrite))
      System.err.println(s"[lake] merge committed as $b: " +
        s"${rewritten.size} leaves rewritten, ${appended.size} appended")
      MergeStats(b, rewritten, appended)
    } finally {
      allKeys.unpersist()
      // the eager localCheckpoints pinned the source's content for
      // snapshot isolation; their blocks are dead once the commit marker
      // (or the failure) is decided — release them explicitly, or
      // repeated merges accumulate executor storage until a JVM GC
      // happens to collect the RDDs (Checkpoints scaladoc)
      graft.core.Checkpoints.release(srcUpserts)
      graft.core.Checkpoints.release(srcDeletes)
    }
  }

  /** Per-purge outcome: the allocated commit id, the live leaves rewritten,
    * the live rows physically removed, the history-generation leaves
    * destroyed, and the change records rewritten.
    */
  final case class PurgeStats(
      commitId: Long,
      rewrittenLeaves: Seq[String],
      purgedRows: Long,
      historyLeavesDropped: Int,
      cdcRecordsRewritten: Int)

  /** GDPR PURGE — physical erasure of every row carrying one of `keys`
    * from EVERYWHERE the lake stores row data, the right-to-be-forgotten
    * verb that completes the delete ladder: [[deleteVectors]] hides rows
    * (logical, O(churn)), [[mergeInto]] removes them from the live view
    * (copy-on-write, pre-images retained for time travel), purge removes
    * them from the live view AND the retained history AND the change feed.
    *
    * `keys` is a bare key-column relation (typically `user_id`s) matched
    * ANYWHERE — unlike merge/delete there is no partition scoping, because
    * a data-subject's rows live wherever they live: the find-matches pass
    * is a full-table scan by construction (the honest GDPR cost; run it
    * rarely and batch the requests).
    *
    *   - LIVE leaves holding matches are rewritten copy-on-write WITHOUT
    *     retention: the rewrite carries `gc<B>` lineage (so post-purge
    *     snapshots work) but the pre-purge copy is renamed aside only for
    *     crash-safety and DELETED, never stored under `_graft_history/`.
    *     Committed deletion vectors are applied during the rewrite —
    *     logically-deleted bytes leave the disk with everything else.
    *   - HISTORY generations are scanned the same way and every
    *     generation-leaf holding a match is DESTROYED outright (emptied
    *     generations fall with them). Surgical history edits are
    *     deliberately not attempted: a pre-purge snapshot must either be
    *     fully servable or fail LOUDLY, and [[readAsOf]]'s existing
    *     lost-window contract provides exactly that — time travel into the
    *     erased range reports the loss instead of resurrecting (or
    *     silently part-serving) the purged rows.
    *   - CHANGE RECORDS (`_graft_cdc/<B'>/`) holding matches are rewritten
    *     in place (tmp + rename, durable-or-absent) with the key's rows
    *     dropped — pre-images are row data too. A consumer re-reading an
    *     old range after a purge sees fewer rows; like vacuum, purge is a
    *     replay boundary, not a replayable event.
    *   - ZONE-MAP sidecars are folded to live-file entries only (a dead
    *     file's min/max can carry a purged key's value).
    *
    * One lake-allocated commit B through the atomic marker exchange,
    * tagged [[MarkerRewrite]] (the tail must refuse it — its effect is
    * subtractive). Crash at any instant re-runs idempotently: the same B
    * re-allocates, a re-purged leaf converges (the anti-join is a no-op on
    * already-clean content), [[recoverSweeps]] heals interrupted swaps,
    * and CDC/history erasure is pure deletion. `faultInjector` points:
    * `"rewritten:<leaf>"` after each live-leaf swap, `"pre-marker"`.
    */
  def purgeKeys(
      spark: SparkSession,
      lakeDir: String,
      keys: DataFrame,
      keyCol: String,
      targetFileBytes: Long = 128L << 20,
      maxConcurrency: Int = 8,
      fenceEpoch: Option[Long] = None,
      faultInjector: String => Unit = _ => ()): PurgeStats = {
    import org.apache.spark.sql.functions.broadcast
    val Verb(root, fs, epoch, b) = openVerb(spark, lakeDir, fenceEpoch, Some("purgeKeys"))
    require(b > 0, s"purge on $lakeDir needs a ledgered lake (no commits " +
      "found) — purge stamps its rewrites with a commit id")
    val keySet = keys.select(col(keyCol)).distinct().cache()
    try {
      val lakeSchema = rewriteSchema(spark, fs, root)
      val datedSchema = Some(lakeSchema.add("event_date", DateType))
      val dvP = dvStore(spark, fs, root)
      // mounts are the root and indexed history generations: both exist
      def touchedLeafNames(mount: Path, leaves: Seq[String]): Seq[String] =
        if (leaves.isEmpty) Seq.empty
        else scanOf(spark, Some(mount), leaves.map(new Path(mount, _)), datedSchema)
          .select(col(keyCol), col("event_date").cast("string").as("__d"))
          .join(broadcast(keySet), Seq(keyCol), "left_semi")
          .select("__d").distinct().collect()
          .map(d => s"$LeafPrefix${d.getString(0)}").sorted.toSeq

      // LIVE rewrite: copy-on-write WITHOUT retention, gc<B>-stamped (the
      // purge commit's lineage)
      val touchedLive = touchedLeafNames(root, leafDirs(fs, root).map(_.getName))
      var purged = 0L
      def purgeOne(leafName: String): Unit = {
        val leaf = new Path(root, leafName)
        rewriteLeaf(spark, fs, root, leafName, Some(b), retain = false, Nil, "purge",
          () => (), () => checkWriterFence(fs, root, epoch)) { tmp =>
          val current = scanOf(spark, None, Seq(leaf), Some(lakeSchema), dvP) // materialize DVs too
          val kept = current.join(broadcast(keySet), Seq(keyCol), "left_anti")
          kept.repartition(rewriteFileCount(parquetFiles(fs, leaf), targetFileBytes))
            .write.mode("overwrite").parquet(tmp.toString)
        }
        faultInjector(s"rewritten:$leafName")
      }
      if (touchedLive.nonEmpty) {
        val liveAll = scanOf(spark, Some(root), touchedLive.map(new Path(root, _)), datedSchema, dvP)
        purged = liveAll.join(broadcast(keySet), Seq(keyCol), "left_semi").count()
      }
      fanOut(touchedLive, maxConcurrency)(purgeOne)

      // HISTORY erasure: destroy every generation-leaf holding a match
      var droppedHist = 0
      historyIndex(fs, root).foreach { g =>
        touchedLeafNames(g.dir, g.leaves.toSeq.sorted).foreach { l =>
          fs.delete(new Path(g.dir, l), true)
          droppedHist += 1
          System.err.println(s"[lake] purge erased history ${g.dir.getName}/$l")
        }
        if (fs.listStatus(g.dir).isEmpty) fs.delete(g.dir, true)
      }

      // CHANGE-RECORD erasure: rewrite records holding the key (pre/post
      // images are row data); tmp + rename keeps them durable-or-absent
      val cdcRoot = new Path(root, CdcRoot)
      var cdcRewritten = 0
      numbered(fs, cdcRoot).filter(_._2.isDirectory).foreach { case (_, d) =>
        val rec = spark.read.parquet(d.getPath.toString)
        if (!rec.join(broadcast(keySet), Seq(keyCol), "left_semi").isEmpty) {
          // one file, like every change record ([[writeChangeRecord]])
          val tmp = new Path(cdcRoot, s".purge${d.getPath.getName}")
          rec.join(broadcast(keySet), Seq(keyCol), "left_anti")
            .repartition(1).write.mode("overwrite").parquet(tmp.toString)
          fs.delete(d.getPath, true)
          require(fs.rename(tmp, d.getPath),
            s"purged change-record rename failed for ${d.getPath}")
          cdcRewritten += 1
        }
      }

      // zone-map fold to live entries only (dead files' min/max can carry
      // a purged key's value) — same discipline as vacuum's fold
      foldStats(fs, root, minSidecars = 1)

      // the marker's leaf list comes from the STAMPS, not this run's work
      // list: a crashed attempt may have swapped leaves (same re-allocated
      // id b, keys now gone, touchedLive empty on the retry) — its gc<b>
      // rewrites must still be committed, or the next commit would
      // re-allocate b and silently collide with the orphaned stamps. A
      // gc<b> stamp can only be a crashed attempt at THIS id: every
      // committed rewrite's id has a marker, which caps allocation above it
      val stampedLeaves = leafDirs(fs, root)
        .filter(l => fs.listStatus(l).exists(f =>
          f.isFile && f.getPath.getName.startsWith(Lineage.rewrite(b))))
        .map(_.getName)
      if (stampedLeaves.isEmpty && droppedHist == 0 && cdcRewritten == 0) {
        // nothing matched anywhere and no crashed attempt to complete:
        // burn no commit id (an effect-free rewrite marker would only trip
        // the change tail's loud boundary)
        System.err.println(s"[lake] purge matched nothing — no-op")
        return PurgeStats(-1L, Seq.empty, 0L, 0, 0)
      }
      if (touchedLive.isEmpty && stampedLeaves.nonEmpty) System.err.println(
        s"[lake] purge retry: completing a crashed attempt's commit $b over " +
          stampedLeaves.mkString(", "))
      faultInjector("pre-marker")
      checkWriterFence(fs, root, epoch)
      writeCommitMarker(fs, markerPath(root, b), b, stampedLeaves,
        markerTag = Some(MarkerRewrite))
      System.err.println(s"[lake] purge committed as $b: $purged rows from " +
        s"${stampedLeaves.size} live leaves, $droppedHist history leaves " +
        s"erased, $cdcRewritten change records rewritten")
      PurgeStats(b, stampedLeaves, purged, droppedHist, cdcRewritten)
    } finally keySet.unpersist()
  }

  /** Heal interrupted compaction swaps (called before every sweep and by
    * [[vacuum]]): an `_compact_old` child whose target leaf is MISSING is
    * a crash between rename-aside and rename-in — restore it (the rewrite
    * in `_compact_tmp` is then a re-derivable orphan); one whose target
    * exists is a crash before the final delete — drop it. Only after the
    * old-dir pass may `_compact_tmp` children be judged: target present →
    * true orphan, delete; target absent (cannot happen under the swap
    * ordering once old is healed, but if an operator hand-deleted a leaf)
    * → promote the rewrite rather than discard data.
    */
  private def recoverSweeps(fs: FileSystem, root: Path): Unit = {
    // each child of `dir` is renamed back to its missing target, or dropped
    def heal(dir: String, healing: String, rename: String): Unit =
      children(fs, new Path(root, dir)).foreach { c =>
        val target = new Path(root, c.getPath.getName)
        if (!fs.exists(target)) {
          System.err.println(s"[lake] $healing ${c.getPath.getName}")
          require(fs.rename(c.getPath, target), s"$rename rename failed for $target")
        } else fs.delete(c.getPath, true)
      }
    heal(OldRoot, "recovering interrupted sweep of", "recovery")
    heal(TmpRoot, "promoting stranded rewrite", "promotion")
  }
}
