package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DateType, StructType}

import graft.core.{GraftSession, Tables}

/** Replays the batch `events` fixture through a genuinely STREAMING plan —
  * file-stream source, micro-batches, state store, watermarks — under
  * `Trigger.AvailableNow`, then returns the sunk result as a batch DataFrame.
  *
  * This bridge puts the stateful-streaming family (stream-stream interval
  * joins, transformWithState, watermarked window/session aggregation,
  * streaming dedup) under the same DuckDB oracle gate as the batch operators.
  * Where the w1-w3 CORRECTNESS rows pin the window *expressions* in batch
  * mode, the st* rows built on this harness pin the *streaming machinery
  * itself*: state-store commit/evict, watermark-gated emission, multi-batch
  * accumulation. The reference's engine path is exactly this machinery
  * (/root/reference/spark-streaming.py:216-221 runs an unbounded
  * foreachBatch stream), so this is the family the oracle should pin.
  *
  * Streaming output == batch answer holds EXACTLY for these operators
  * provided no row is dropped as late, which the harness guarantees by
  * construction:
  *
  *   - the fixture is split into `chunks` files by equal-width TIME RANGE
  *     (two scalar aggregates to the driver; no global sort, no
  *     single-partition window), written with ascending modification times
  *     so FileStreamSource + maxFilesPerTrigger=1 feeds them as consecutive
  *     micro-batches in event-time order. A row is late only if its ts is
  *     behind the watermark = max(ts of PREVIOUS chunks) − delay; range
  *     chunking makes every row's ts ≥ every previous chunk's max, so
  *     nothing is ever late. Equal-ts rows always share a chunk, which also
  *     keeps duplicate pairs inside one dedup horizon.
  *   - a final SENTINEL file (user_id = −1, ts = max + 2 days) advances the
  *     watermark past every real row's join window / window end / session
  *     gap. MicroBatchExecution keeps scheduling no-data batches while the
  *     advanced watermark can still evict state, and AvailableNow runs them
  *     before terminating — so watermark-gated output (outer-join null
  *     sides, append-mode windows, closed sessions) flushes deterministically
  *     before the query stops. Callers filter the sentinel back out
  *     (user_id < 0 / event_type == [[SentinelType]]).
  *   - the sink is foreachBatch → parquet append (the production-shaped,
  *     always-recoverable sink the reference itself uses; a memory sink
  *     would hold the whole result on the driver), read back and returned.
  *
  * The chunk count is deliberately small: replay cost is dominated by fixed
  * per-micro-batch machinery (state-store commits, offset/commit WAL,
  * ~0.5-2 s per stateful batch regardless of rows), and 4 real batches +
  * sentinel + no-data flush already exercise cross-batch state on every
  * operator. The same fixed cost is why st* bench times must be read as
  * harness constants, not operator throughput — at production batch sizes
  * it amortizes to noise.
  */
object ReplayHarness {

  /** Deep nullability normalizer (public-API stand-in for the
    * private[spark] `DataType.asNullable`): recursively forces
    * StructField.nullable, ArrayType.containsNull and
    * MapType.valueContainsNull so schema-stability checks compare only
    * names/types/order.
    */
  private def normType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = normType(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(normType(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(normType(m.keyType), normType(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Event type used for sentinel rows when the operator under test does not
    * pre-filter on event_type (windows, sessions); operators that DO filter
    * (the click/error joins) need sentinel rows of the filtered types so the
    * sentinel survives into the watermark operator — a filtered-out sentinel
    * would never advance the watermark.
    */
  val SentinelType = "__flush__"

  /** The state-store provider override for the RocksDB-only operators. */
  private[graft] val RocksDB: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** `body` on an isolated session ([[GraftSession.withConf]]) at the
    * replay shuffle width plus `overrides`. State-store instances (and
    * their per-batch commit fsyncs) scale with shuffle partitions, and
    * stateful streaming disables AQE coalescing — so replay batches of a
    * few thousand rows would pay 32 store commits per operator per batch
    * for nothing (measured: a stream-stream join batch costs ~2 s at 32
    * partitions vs ~0.5 s at 4). Four is plenty of parallelism for the
    * replay volume; the partition count is pinned into the checkpoint at
    * query start, so this only affects the harness's own queries — a
    * production deployment of the same operators would size this to its
    * key cardinality, not to the replay's.
    */
  private def isolated[T](spark: SparkSession, overrides: (String, String)*)(
      body: SparkSession => T): T = {
    val key = "spark.sql.shuffle.partitions"
    GraftSession.withConf(spark,
      (key -> math.min(4, spark.conf.get(key).toInt).toString) +: overrides: _*)(body)
  }

  /** A file stream over `dir` that feeds one staged file per micro-batch,
    * in modification-time order.
    */
  private def fileStream(s: SparkSession, schema: StructType, dir: Path): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir.toString)

  /** Starts `stream` (AvailableNow) into an IDEMPOTENT per-batch sink: one
    * `b<id>` sub-directory of `outDir` per batch id, overwritten on
    * re-execution — a micro-batch replayed after a task retry or a
    * restart-from-checkpoint lands on the same path instead of appending
    * duplicates (blind append would turn any replay into a false
    * 'streaming machinery broke' hash mismatch). The write keeps the
    * batch's OWN partitioning (one small file per state partition): the
    * r17 coalesce(1) made the single write task compute all of the
    * stateful operator's partitions — and commit their state stores —
    * SERIALLY (guide §1.2: the sink job was measured at 80-95% of
    * addBatch; see OPTIMIZATION_r18.md). Batch output is a row SET (the
    * driver sorts before hashing), so per-batch file count is not
    * observable in any result. `enrich` maps each batch before the write.
    */
  private def startBatchDirSink(stream: DataFrame, outputMode: String, ckpt: Path,
      outDir: Path, enrich: (DataFrame, Long) => DataFrame = (b, _) => b): StreamingQuery =
    stream.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        enrich(batch, batchId).write.mode("overwrite")
          .parquet(outDir.resolve(s"b$batchId").toString)
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** The union of [[startBatchDirSink]]'s `b<id>` dirs on `spark`, read
    * lazily with `recursiveFileLookup` (the dirs are not key=value
    * partitions) — or an empty frame when no batch landed.
    */
  private def readBatchDirs(spark: SparkSession, outDir: Path, schema: StructType): DataFrame =
    if (Files.exists(outDir))
      spark.read.schema(schema).option("recursiveFileLookup", "true")
        .parquet(outDir.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Collects the row-bounded `df` (a census), reclaims the RAM-backed
    * scratch tree `base`, and rebuilds the rows on the caller's `spark` —
    * a lazy read would hold a fixture-sized tmpfs tree alive per run and
    * accumulate across a long session.
    */
  private def pinned(spark: SparkSession, base: Path)(df: DataFrame): DataFrame = {
    val rows = df.collect().toIndexedSeq
    val schema = df.schema
    cleanupScratch(base)
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
  }

  /** (min, max) of `ts` in epoch ms: two scalar aggregates to the driver. */
  private def tsBoundsMs(events: DataFrame): (Long, Long) = {
    val r = events.agg(unix_millis(min(col("ts"))), unix_millis(max(col("ts")))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** The time-range replay cut: `events` tagged with an int `__chunk` —
    * by default the equal-width time range of `ts` over `chunks` chunks
    * (deterministic and order-preserving; `rule` overrides it with any
    * (minMs, maxMs) => column) — and the SENTINEL rows: one per
    * `sentinelTypes` entry (user_id = −1), 2 days past the real max ts —
    * far beyond any 6 h window + 30 min gap + 10 min watermark delay.
    */
  private def timeRangeCut(events: DataFrame, chunks: Int, sentinelTypes: Seq[String],
      rule: Option[(Long, Long) => Column] = None): (DataFrame, DataFrame) = {
    val (minTs, maxTs) = tsBoundsMs(events)
    val span = math.max(1L, maxTs - minTs + 1)
    val chunk = rule.map(_(minTs, maxTs)).getOrElse(least(lit(chunks - 1),
      floor(((unix_millis(col("ts")) - minTs) * chunks).cast("double") / span)))
    val sentinelTs = new java.sql.Timestamp(maxTs + 2L * 24 * 3600 * 1000)
    val session = events.sparkSession
    import session.implicits._
    val sentinel = sentinelTypes.zipWithIndex.map { case (t, i) =>
      (-(i + 1).toLong, sentinelTs, -1L, t, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .select(events.columns.map(col).toSeq: _*)
    (events.withColumn("__chunk", chunk.cast("int")), sentinel)
  }

  /** Drops a replay's stream input (`in/`) and checkpoint (`ckpt/`) — the
    * parts of its RAM-backed scratch the result never reads.
    */
  private def reclaimStreamState(base: Path): Unit = {
    deleteRecursively(base.resolve("in"))
    deleteRecursively(base.resolve("ckpt"))
  }

  /** When `killAfterBatches = Some(n)`, the replay is split into a real
    * CHECKPOINT-RESTART cycle: the first query instance is stopped once ≥ n
    * micro-batches have committed (mid-stream, with input files still
    * unprocessed), then a SECOND query instance is started on the same
    * checkpoint and runs to completion. The restarted instance must restore
    * every state store (and the watermark) from the checkpoint and resume
    * at the first uncommitted offset — the delivery-semantics contract the
    * reference omits entirely (no checkpointLocation anywhere in
    * spark-streaming.py; SURVEY §3.2.6). Output stays exactly-once because
    * the sink is idempotent per batch id (see below), so a batch replayed
    * across the restart boundary overwrites rather than duplicates.
    */
  def replayEvents(
      spark: SparkSession,
      sfDir: String,
      outputMode: String,
      chunks: Int = 4,
      sentinelTypes: Seq[String] = Seq("click", "error"),
      prep: DataFrame => DataFrame = identity,
      requireRocksDB: Boolean = false,
      killAfterBatches: Option[Int] = None,
      chunkBy: Option[(Long, Long) => Column] = None,
      sinkEnrich: Option[(DataFrame, Long) => DataFrame] = None)(
      transform: DataFrame => DataFrame): DataFrame = {
    val events = prep(Tables.load(spark, sfDir, "events"))
    // RAM-backed scratch when available: replay cost is dominated by
    // per-partition state-store delta fsyncs on the checkpoint — /dev/shm
    // removes the disk from a verification harness that needs no durability
    val base = scratchDir("graft_replay_")
    val streamDir = Files.createDirectory(base.resolve("in"))
    val outDir = base.resolve("out")

    // `chunkBy` overrides the equal-width time-range rule with an arbitrary
    // (minMs, maxMs) => int column: chunk id == micro-batch arrival order,
    // so a rule that puts old-timestamp rows in a HIGH chunk id
    // deliberately makes them LATE (they arrive after earlier chunks
    // advanced the watermark) — the only way to put the watermark's drop
    // path itself under the oracle (st12); the default rule can never
    // produce a late row by construction.
    val (withChunk, sentinel) = timeRangeCut(events, chunks, sentinelTypes, chunkBy)
    // The chunk + sentinel staging writes are independent tiny jobs whose
    // wall is per-job fixed cost, not data — staged CONCURRENTLY and
    // published afterwards, the sentinel last (highest mtime)
    val now = System.currentTimeMillis()
    val publishChunk = stagedChunkPublisher(withChunk, base, streamDir, chunks,
      i => now - (if (i < chunks) chunks + 2 - i else 1) * 60000L, Some(sentinel))
    (0 to chunks).foreach(publishChunk)

    val outSchema = try isolated(spark, (if (requireRocksDB) Seq(RocksDB) else Nil): _*) { s =>
      val transformed = transform(fileStream(s, events.schema, streamDir))
      // `sinkEnrich` runs INSIDE foreachBatch on the materialized micro-batch
      // with its batch id — the production per-batch dimension-refresh pattern
      // (st13): the closure may re-read side data per batch, which a streaming
      // plan transform cannot express. It must be schema-stable across batch
      // ids; the output schema is derived by applying it to an empty batch.
      val outSchema = sinkEnrich match {
        case Some(f) => f(s.createDataFrame(
          s.sparkContext.emptyRDD[Row], transformed.schema), 0L).schema
        case None => transformed.schema
      }
      def startQuery() = startBatchDirSink(transformed, outputMode, base.resolve("ckpt"), outDir,
        (batch, batchId) => {
          val enriched = sinkEnrich.map(f => f(batch, batchId)).getOrElse(batch)
          // the read-back path trusts the empty-batch schema probe above;
          // enforce the documented schema-stability convention at runtime so
          // a closure whose shape depends on batch id / batch data fails
          // HERE with a named batch instead of as a downstream read error
          // (nullability excluded — the read-back supplies the schema
          // explicitly, so only names/types/order matter; normType
          // normalizes NESTED nullability too — array containsNull, inner
          // StructField.nullable — which raw dataType equality would not)
          val got =
            enriched.schema.fields.map(f => (f.name, normType(f.dataType))).toSeq
          val want =
            outSchema.fields.map(f => (f.name, normType(f.dataType))).toSeq
          if (got != want) throw new IllegalStateException(
            s"sinkEnrich output schema for batch $batchId diverged from the " +
              s"empty-batch probe: got ${got.mkString(",")} want ${want.mkString(",")}")
          enriched
        })

      val q = killAfterBatches match {
        case Some(n) =>
          val q1 = startQuery()
          // poll committed-batch count; stop mid-stream once n have landed
          // (if the replay outruns the poll the restart still exercises
          // checkpoint recovery via the remaining no-data batches)
          while (q1.isActive &&
            Option(q1.lastProgress).map(_.batchId + 1).getOrElse(0L) < n)
            q1.awaitTermination(50)
          if (q1.isActive) q1.stop()
          q1.awaitTermination()
          System.err.println(s"[replay] killed after " +
            s"${Option(q1.lastProgress).map(_.batchId + 1).getOrElse(0L)} batches; " +
            "restarting from checkpoint")
          startQuery()
        case None => startQuery()
      }
      q.awaitTermination()
      outSchema
    } finally reclaimStreamState(base)

    // COMPLETE mode re-emits the entire result every micro-batch, so the
    // sunk dirs are successive whole-result snapshots — the result is the
    // HIGHEST batch id's dir alone, not the union (which would multi-count
    // every window once per batch that re-emitted it).
    if (outputMode == "complete" && Files.exists(outDir)) {
      val listing = Files.list(outDir)
      val last =
        try listing.iterator().asScala.map(_.getFileName.toString)
          .filter(_.matches("b\\d+")).maxBy(_.drop(1).toLong)
        finally listing.close()
      spark.read.schema(outSchema).parquet(outDir.resolve(last).toString)
    } else readBatchDirs(spark, outDir, outSchema)
  }

  /** Two-phase STATE-SCHEMA-EVOLUTION replay: phase 1 publishes the first
    * `phase1Chunks` time-range chunks and runs `transform1` to completion
    * (AvailableNow drains exactly the published files — the restart
    * boundary is chunk-deterministic, unlike killAfterBatches' poll race);
    * phase 2 publishes the remaining chunks and resumes FROM THE SAME
    * CHECKPOINT with `transform2` — a pipeline whose stateful processor
    * carries an EVOLVED state schema. This is the production upgrade path:
    * stop a stream, deploy code whose state case class gained a field,
    * restart on the existing checkpoint; the state store must read every
    * old-schema row into the widened type (Avro encoding is what makes
    * that a schema RESOLUTION instead of a byte-layout mismatch — set
    * here via spark.sql.streaming.stateStore.encodingFormat, pinned into
    * the checkpoint from the first batch).
    *
    * RocksDB provider + Avro encoding are forced for both phases. The
    * read-back uses phase 2's schema: phase-1 batch files lack the new
    * columns and surface them as null — exactly the "old emissions
    * predate the upgrade" shape a production lake would show.
    */
  /** `transform1 == transform2` degenerates to a pure deterministic-restart
    * certification (no schema change): the second instance must resume
    * whatever operator state the first checkpointed — window partial sums,
    * join buffers, dedup sets — which is how st27/st28 extend st10's
    * recovery matrix beyond TWS value state. `sentinelTypes` rows are
    * published LAST (highest mod time) so phase 2 ends with the watermark
    * flush every append-mode operator needs.
    */
  def replayEventsTwoPhase(
      spark: SparkSession,
      sfDir: String,
      chunks: Int = 4,
      phase1Chunks: Int = 2,
      outputMode: String = "update",
      sentinelTypes: Seq[String] = Seq.empty,
      stateEncoding: Option[String] = None,
      prep: DataFrame => DataFrame = identity)(
      transform1: DataFrame => DataFrame)(
      transform2: DataFrame => DataFrame): DataFrame = {
    val events = prep(Tables.load(spark, sfDir, "events"))
    val base = scratchDir("graft_evolve_")
    val streamDir = Files.createDirectory(base.resolve("in"))
    val outDir = base.resolve("out")

    // replayEvents' cut, verbatim — the phase boundary (chunk >=
    // phase1Chunks) is thereby a pure function of ts, which is what lets
    // the oracle SQL reproduce which events the EVOLVED processor saw. The
    // sentinel is staged with the chunks (its write overlaps the phase-1
    // drain) and published after phase 2's chunks.
    val (withChunk, sentinel) = timeRangeCut(events, chunks, sentinelTypes)
    val now = System.currentTimeMillis()
    val publishChunk = stagedChunkPublisher(withChunk, base, streamDir, chunks,
      i => now - (if (i < chunks) chunks + 2 - i else 1) * 60000L,
      Some(sentinel).filter(_ => sentinelTypes.nonEmpty))

    // Avro encoding is what enables TWS state-schema RESOLUTION (st26),
    // but Spark rejects it for non-TWS stateful operators (join, agg) —
    // so it is opt-in per query, not harness-global
    val encoding = stateEncoding.map("spark.sql.streaming.stateStore.encodingFormat" -> _)
    val schema2 = try isolated(spark, RocksDB +: encoding.toSeq: _*) { s =>
      def runPhase(tr: DataFrame => DataFrame): StructType = {
        val transformed = tr(fileStream(s, events.schema, streamDir))
        startBatchDirSink(transformed, outputMode, base.resolve("ckpt"), outDir)
          .awaitTermination()
        transformed.schema
      }
      (0 until phase1Chunks).foreach(publishChunk)
      runPhase(transform1)
      System.err.println(s"[replay] phase 1 drained ($phase1Chunks chunks); " +
        "restarting from checkpoint")
      (phase1Chunks until chunks).foreach(publishChunk)
      // published LAST so the restarted instance processes it last and the
      // watermark flushes every state row before the query stops
      if (sentinelTypes.nonEmpty) publishChunk(chunks)
      runPhase(transform2)
    } finally reclaimStreamState(base)
    readBatchDirs(spark, outDir, schema2)
  }

  /** Replays the batch `documents` fixture through a streaming plan — the
    * north-star document pipeline's ingest shape (file-stream micro-batches
    * over a doc corpus; no event time, so no watermark/sentinel machinery).
    *
    * Chunk rule: WITHIN-FINGERPRINT-GROUP RANK, not doc_id range — the
    * first arrival of every content fingerprint is ALONE in its batch, so
    * a streaming dedup's survivor is deterministically the min doc_id
    * (st8's equal-ts discipline, keyed on content instead of time;
    * without it two same-fp docs meeting in one micro-batch leave an
    * arbitrary survivor and no oracle can pin the result). Later ranks
    * share batches freely: their fingerprint is already in state, so they
    * drop regardless of batch-mates.
    */
  def replayDocs(spark: SparkSession, sfDir: String, chunks: Int = 4)(
      transform: DataFrame => DataFrame): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val base = scratchDir("graft_docreplay_")
    val streamDir = Files.createDirectory(base.resolve("in"))
    val outDir = base.resolve("out")

    val fp = md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
    val withChunk = docs.withColumn("__chunk",
      least(lit(chunks - 1),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(fp).orderBy(col("doc_id"))) - 1).cast("int"))

    val now = System.currentTimeMillis()
    val publishChunk =
      stagedChunkPublisher(withChunk, base, streamDir, chunks,
        i => now - (chunks + 1 - i) * 60000L)
    (0 until chunks).foreach(publishChunk)

    val outSchema = try isolated(spark) { s =>
      val transformed = transform(fileStream(s, docs.schema, streamDir))
      startBatchDirSink(transformed, "append", base.resolve("ckpt"), outDir)
        .awaitTermination()
      transformed.schema
    } finally reclaimStreamState(base)
    readBatchDirs(spark, outDir, outSchema)
  }

  /** st32's harness: the events fixture replayed through a streaming
    * pipeline whose SINK is the production lake layout
    * ([[LakeSink.datePartitioned]] — date-partitioned append + committed-
    * batch ledger + periodic compaction), certified across the ONE failure
    * window an FS-level lake sink has: a crash AFTER the sink's data and
    * ledger marker land but BEFORE the engine records the batch commit.
    *
    * Phase 1 drains `phase1Chunks` chunk files (AvailableNow, one file per
    * micro-batch); the harness then deletes the checkpoint's LAST
    * `commits/<N>` record — exactly the on-disk state that crash leaves —
    * and phase 2 resumes from the same checkpoint. Spark's recovery
    * contract re-plans batch N from its offsets log and re-invokes the
    * sink with the SAME batchId and rows (chunk-deterministic, not a poll
    * race; a wrapper `require`s the re-invocation actually happened so a
    * future Spark behavior change fails loudly here, not silently).
    * Without the ledger the replay double-appends every row of batch N;
    * with it the batch is a skip, and the oracle's full-fixture census
    * prices exactly-once END TO END — engine replay, sink ledger,
    * partitioned layout, and the compaction rewrites that ran mid-stream
    * (`compactEvery`) all inside the hash.
    *
    * Chunk rule and phase sequence: [[CrashScenario]].
    *
    * Returns `finish` applied to the lake read back via partition discovery
    * (`event_date` as a partition column — the f4-style pruned read shape
    * applies as written), PINNED: the result rows are collected and the
    * RAM-backed scratch (lake + checkpoint + staging, /dev/shm) reclaimed
    * before returning — a lazy read would hold a fixture-sized tmpfs tree
    * alive per run and accumulate across a long session (st36 pins its
    * census for the same reason). Callers therefore pass a row-bounded
    * `finish` (a census) at verification scale.
    */
  /** With `crashSinkAt = Some((batchId, point))`, the sink's fault injector
    * throws ONCE at that exact instant of the staged-commit protocol
    * ([[LakeSink.datePartitioned]]'s `faultInjector` points — "staged",
    * "committed:<leaf>", "pre-marker"), killing the first query run
    * mid-phase-1; a restarted run must recover by replaying the crashed
    * batch through the rollback-then-commit path. This is the strongest
    * crash window an FS-level sink has (data fully visible, marker absent)
    * — st39 certifies it end-to-end against the same full-fixture census
    * as st32.
    */
  def replayEventsToLake(
      spark: SparkSession,
      sfDir: String,
      chunks: Int = 6,
      phase1Chunks: Int = 3,
      compactEvery: Long = 3L,
      finish: DataFrame => DataFrame = identity,
      crashSinkAt: Option[(Long, String)] = None)(
      transform: DataFrame => DataFrame): DataFrame = {
    val base = scratchDir("graft_lake_")
    val lakeDir = base.resolve("lake").toString
    val crash = new CrashScenario("lake", crashSinkAt)
    // small target size so the mid-stream sweeps really rewrite leaves at
    // fixture scale; production would keep the 128 MiB default
    val sink = LakeSink.datePartitioned(lakeDir, tsCol = "ts",
      compactEvery = compactEvery, targetFileBytes = 512L << 10,
      minFilesToCompact = 2, faultInjector = crash.inject)
    isolated(spark) { s =>
      crash.run(s, base, Tables.load(s, sfDir, "events"), chunks, phase1Chunks,
        transform)(sink)
    }
    pinned(spark, base)(finish(spark.read.parquet(lakeDir)))
  }

  /** st46's harness: ONE micro-batch stream fanned into TWO ledgered lake
    * sinks inside one foreachBatch — the raw/derived double-write every
    * medallion pipeline runs (same batch lands in an audit table and a
    * filtered serving table). Exactly-once here is strictly harder than
    * st32's single sink because the two commits CANNOT be atomic together:
    * a crash BETWEEN them (injected once, after sink A's marker lands and
    * before sink B is invoked, on `crashBetweenSinksAt`) leaves the batch
    * committed in A and absent from B. Spark's recovery replays the whole
    * batch; each sink consults its OWN ledger — A skips, B commits — so
    * the pair converges without a cross-sink transaction. The harness
    * then also drops the engine's last commit record at the phase
    * boundary (st32's crash window), which both sinks must skip. The
    * oracle census covers BOTH lakes tagged by sink: a double-append in
    * either, or a batch lost from the not-yet-committed sink, shifts its
    * half of the rows.
    */
  def replayEventsFanOut(
      spark: SparkSession,
      sfDir: String,
      chunks: Int = 6,
      phase1Chunks: Int = 3,
      crashBetweenSinksAt: Long = 1L,
      finish: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val base = scratchDir("graft_fanout_")
    val lakeA = base.resolve("lake_raw").toString
    val lakeB = base.resolve("lake_derived").toString
    val sinkA = LakeSink.datePartitioned(lakeA, tsCol = "ts",
      compactEvery = 3L, targetFileBytes = 512L << 10, minFilesToCompact = 2)
    val sinkB = LakeSink.datePartitioned(lakeB, tsCol = "ts",
      compactEvery = 3L, targetFileBytes = 512L << 10, minFilesToCompact = 2)
    // recovery of the between-sinks crash: A's ledger skips the batch, B
    // commits it; the dropped commit record at the phase boundary (st32's
    // engine-crash window) must then be a skip in BOTH ledgers
    val crash = new CrashScenario("fanout", Some((crashBetweenSinksAt, "between-sinks")))
    isolated(spark) { s =>
      crash.run(s, base, Tables.load(s, sfDir, "events"), chunks, phase1Chunks,
        _.select("event_id", "ts", "user_id", "event_type", "value")) {
        (batch, batchId) =>
          sinkA(batch, batchId)
          crash.inject(batchId, "between-sinks")
          sinkB(batch.filter(col("event_type") === "click"), batchId)
      }
    }
    pinned(spark, base)(finish(spark.read.parquet(lakeA), spark.read.parquet(lakeB)))
  }

  /** The crash-restart scenario shared by the ledgered-sink replays (st32/
    * st39 [[replayEventsToLake]], st46 [[replayEventsFanOut]], st51
    * [[replayOccTail]]). The events are cut by `event_id % chunks` (NOT
    * time range — the streams are stateless so no watermark determinism is
    * needed, and id-interleaving makes every micro-batch touch every
    * `event_date` leaf, so leaves accumulate one file per batch and the
    * compaction sweeps genuinely merge multi-file partitions). [[run]]
    * drives one checkpointed AvailableNow stream, one file per micro-batch:
    *
    *   1. phase 1 publishes `phase1Chunks` chunks; with `crashAt =
    *      Some((b, point))` the first run dies from the fault [[inject]]
    *      throws ONCE at that point of batch b, and the restart must
    *      re-invoke batch b (recovery through the sink's own protocol);
    *   2. `between` runs at the phase boundary; with `dropCommit` the
    *      checkpoint's LAST commit record is then deleted
    *      ([[dropLastCommitRecord]] — the engine-crash window);
    *   3. phase 2 publishes the rest, and its run must re-invoke the
    *      dropped batch.
    *
    * Every "must re-invoke" is a `require`: the ledgers lean on Spark's
    * foreachBatch recovery contract, so a change in it fails loudly here
    * instead of leaving the recovery path silently untested.
    */
  private final class CrashScenario(tag: String, crashAt: Option[(Long, String)]) {
    private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val invoked = java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
    private val marker = s"injected $tag crash"

    /** The fault hook: throws once, at `crashAt`. */
    def inject(batchId: Long, point: String): Unit =
      if (crashAt.contains((batchId, point)) && fired.compareAndSet(false, true))
        throw new RuntimeException(s"$marker at '$point' of batch $batchId")

    def run(s: SparkSession, base: Path, events: DataFrame, chunks: Int,
        phase1Chunks: Int, transform: DataFrame => DataFrame = identity,
        dropCommit: Boolean = true, between: () => Unit = () => ())(
        body: (DataFrame, Long) => Unit): Unit = {
      require(phase1Chunks > 0 && phase1Chunks < chunks,
        "need a non-empty phase on both sides of the restart")
      val streamDir = Files.createDirectory(base.resolve("in"))
      val ckpt = base.resolve("ckpt")
      val now = System.currentTimeMillis()
      val publishChunk = stagedChunkPublisher(
        events.withColumn("__chunk", pmod(col("event_id"), lit(chunks)).cast("int")),
        base, streamDir, chunks, i => now - (chunks + 2 - i) * 60000L)
      def drain(expectCrash: Boolean = false): Unit = {
        val q = transform(fileStream(s, events.schema, streamDir)).writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            invoked.add(batchId); body(batch, batchId)
          }
          .trigger(Trigger.AvailableNow())
          .start()
        def injected(t: Throwable): Boolean = t != null &&
          (String.valueOf(t.getMessage).contains(marker) || injected(t.getCause))
        try q.awaitTermination()
        catch {
          case e: Throwable if expectCrash && injected(e) =>
            System.err.println(s"[$tag] $marker fired; restarting from checkpoint")
        }
      }
      def requireReinvoked(batchId: Long, what: String): Unit =
        require(invoked.contains(batchId),
          s"restart did not re-invoke the sink for $what batch $batchId — " +
            "Spark's foreachBatch recovery contract changed; the recovery path is untested")
      try {
        (0 until phase1Chunks).foreach(publishChunk)
        crashAt match {
          case Some((b, point)) =>
            drain(expectCrash = true)
            require(fired.get, s"$marker at '$point' of batch $b never fired — " +
              "point unreachable, the crash window is untested")
            invoked.clear()
            drain()
            requireReinvoked(b, "crashed")
          case None => drain()
        }
        between()
        val dropped = if (!dropCommit) None else {
          val id = dropLastCommitRecord(ckpt)
          System.err.println(s"[$tag] dropped commit record $id; " +
            "restarting from checkpoint (recovery must replay it)")
          Some(id)
        }
        invoked.clear()
        (phase1Chunks until chunks).foreach(publishChunk)
        drain()
        dropped.foreach(requireReinvoked(_, "uncommitted"))
      } finally reclaimStreamState(base)
    }
  }

  /** st47's harness: a REPLICA table maintained purely from the source
    * lake's change feed — the cross-table CDC pipeline Delta runs with
    * CDF + MERGE, here composed entirely from LakeSink verbs:
    *
    *   source = appends (commits 0-2) + one recorded MERGE (commit 3:
    *   updates/deletes/inserts) + a late append (commit 4). The consumer
    *   owns a high-water mark and applies each commit range with
    *   [[LakeSink.tailChanges]] → upserts (`insert` + `update_post`) and
    *   deletes (`delete`) fed to [[LakeSink.mergeInto]] on the replica
    *   (bootstrap range via [[LakeSink.appendBatch]] with a claimed id).
    *   `update_pre` rows are read and DROPPED — the apply needs
    *   post-state only; their presence in the feed is what a diff-based
    *   consumer (audit, incremental aggregate) would key on.
    *
    *   The crash the shape must survive: between an applied range and the
    *   high-water advance. The harness re-applies the merge range
    *   verbatim — the replica's merge converges (anti-join + union of
    *   already-applied content) and the bootstrap's claimed id makes the
    *   append retry a no-op, so the final census is invariant.
    *
    * Returns `finish` over the REPLICA's read-back — every row priced by
    * the oracle's set-algebraic reconstruction of the source's final
    * state: a dropped delete, a pre-image applied as post, a double-
    * applied range, or a leaked `_op` column each shift a census cell.
    */
  /** Shared CDC-source lay-down for the change-feed consumers (st47,
    * st48): three appends (commits 0-2: the `id % 4 < 3` quarters) and one
    * RECORDED merge (commit 3: `id % 10 == 7` updated in place,
    * `id % 10 == 3` deleted, a `+10M`-shifted copy of every `id % 10 == 2`
    * row inserted). Later commits differ per consumer and are appended by
    * the caller.
    */
  private def layDownCdcSource(
      spark: SparkSession, events: DataFrame, src: String): Unit = {
    val sink = LakeSink
    (0 until 3).foreach { i =>
      sink.appendBatch(spark, src,
        events.filter(pmod(col("event_id"), lit(4)) === i),
        commitId = Some(i.toLong))
    }
    val present = pmod(col("event_id"), lit(4)) < 3
    val upserts = events.filter(present && pmod(col("event_id"), lit(10)) === 7)
      .withColumn("value", col("value") + 1000.0)
      .withColumn("event_type", lit("updated"))
      .unionByName(events.filter(pmod(col("event_id"), lit(10)) === 2)
        .withColumn("event_id", col("event_id") + 10000000L)
        .withColumn("value", col("value") * 2.0)
        .withColumn("event_type", lit("inserted")))
    val deletes = events.filter(present && pmod(col("event_id"), lit(10)) === 3)
      .select("event_id", "ts")
    val merged = sink.mergeInto(spark, src, upserts, "event_id", deletes,
      targetFileBytes = 512L << 10, recordChanges = true)
    require(merged.commitId == 3L, s"fixture drift: merge landed at ${merged.commitId}")
  }

  def replayCdcApply(
      spark: SparkSession,
      sfDir: String,
      finish: DataFrame => DataFrame = identity): DataFrame = {
    val events = Tables.load(spark, sfDir, "events")
    val base = scratchDir("graft_cdcapply_")
    val src = base.resolve("source").toString
    val dst = base.resolve("replica").toString
    val sink = LakeSink

    // source lay-down: three appends, one recorded merge, one late append
    layDownCdcSource(spark, events, src)
    sink.appendBatch(spark, src,
      events.filter(pmod(col("event_id"), lit(4)) === 3), commitId = Some(4L))

    val dataCols = events.columns.toSeq
    def applyRange(from: Long, to: Long): Unit = {
      val changes = sink.tailChanges(spark, src, from, to)
      val ups = changes.filter(col("_op").isin("insert", "update_post"))
        .select(dataCols.map(col): _*)
      val dels = changes.filter(col("_op") === "delete")
        .select("event_id", "ts")
      val fs = new org.apache.hadoop.fs.Path(dst)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(dst))) {
        require(dels.isEmpty, "bootstrap range cannot carry deletes")
        // claimed id 0: a crash-retry of the bootstrap is a ledger no-op
        sink.appendBatch(spark, dst, ups, commitId = Some(0L))
      } else {
        sink.mergeInto(spark, dst, ups, "event_id", dels,
          targetFileBytes = 512L << 10)
      }
    }
    applyRange(-1L, 2L) // bootstrap: the three appends
    applyRange(2L, 3L)  // the merge's row-level changes
    // crash window: effect committed, high-water not advanced — the
    // consumer re-applies the SAME range; the replica must converge
    applyRange(2L, 3L)
    applyRange(3L, 4L)  // the late append

    pinned(spark, base)(finish(sink.readLake(spark, dst)))
  }

  /** st48's harness: INCREMENTAL VIEW MAINTENANCE — a downstream AGGREGATE
    * (census by (event_date, event_type)) maintained purely from the
    * source's change feed by SIGNED DELTAS, the classic IVM shape and the
    * other half of the CDC-consumption story st47's row replica starts:
    * `insert`/`update_post` rows contribute +1/+value, `delete`/
    * `update_pre` rows −1/−value, so the consumer's cost per range is
    * O(churn) and the source table is NEVER re-scanned (a recompute-based
    * "materialized view" at 100 TB re-reads the world per refresh; this
    * reads exactly the feed).
    *
    * The source composes every change-producing verb: three appends, a
    * recorded MERGE (commit 3), a recorded DELETION-VECTOR delete
    * (commit 4 — f16's merge-on-read verb feeding the same CDC channel),
    * and a late append (commit 5).
    *
    * The classic IVM hazard is DOUBLE-APPLICATION: deltas are not
    * idempotent, so "apply range, advance high-water" must be atomic. The
    * consumer gets that atomicity from the aggregate table's own ledger:
    * each applied range writes the updated aggregate SNAPSHOT (k rows —
    * one per group; tiny by construction) as a CLAIMED-id
    * [[LakeSink.appendBatch]] commit whose id k is the range index and
    * whose rows carry `applied_to` — the effect IS the watermark, one
    * atomic marker exchange. The harness drives the crash: re-applying the
    * merge range with the stale k is a ledger no-op, never a double count.
    * The current aggregate is always `tailCommits(k-1, k)` — O(1 commit's
    * files), never a table scan of the history of snapshots.
    *
    * Returns `finish` over the final snapshot: a delta applied twice, a
    * missed pre-image (update counted as insert), a DV delete dropped, or
    * a group resurrected after full deletion each shift a census cell.
    */
  def replayIvmAggregate(
      spark: SparkSession,
      sfDir: String,
      finish: DataFrame => DataFrame = identity): DataFrame = {
    val events = Tables.load(spark, sfDir, "events")
    val base = scratchDir("graft_ivm_")
    val src = base.resolve("source").toString
    val dst = base.resolve("aggregate").toString
    val sink = LakeSink

    // source: shared CDC lay-down (appends 0-2, recorded merge 3), then a
    // recorded merge-on-read delete (4) and a late append (5)
    layDownCdcSource(spark, events, src)
    val present = pmod(col("event_id"), lit(4)) < 3
    val dv = sink.deleteVectors(spark, src,
      events.filter(present && pmod(col("event_id"), lit(10)) === 9)
        .select("event_id", "ts"),
      "event_id", recordChanges = true)
    require(dv.commitId == 4L, s"fixture drift: DV delete landed at ${dv.commitId}")
    sink.appendBatch(spark, src,
      events.filter(pmod(col("event_id"), lit(4)) === 3), commitId = Some(5L))

    def applyRange(k: Long, from: Long, to: Long): Unit = {
      val changes = sink.tailChanges(spark, src, from, to)
      val sign = when(col("_op").isin("insert", "update_post"), lit(1L))
        .otherwise(lit(-1L))
      val delta = changes
        .select(to_date(col("ts")).as("d"), col("event_type"), sign.as("s"),
          col("value"), col("event_id"))
        .groupBy("d", "event_type")
        .agg(sum(col("s")).as("dn"),
          sum(col("s") * col("value")).as("dv"),
          sum(col("s") * col("event_id")).as("dc"))
      val next = (if (k == 0L) delta.select(col("d"), col("event_type"),
          col("dn").as("n"), col("dv").as("total_value"), col("dc").as("id_checksum"))
        else {
          val prev = sink.tailCommits(spark, dst, k - 2, k - 1)
            .select(col("event_date").as("d"), col("event_type"),
              col("n"), col("total_value"), col("id_checksum"))
          prev.join(delta, Seq("d", "event_type"), "full_outer")
            .select(col("d"), col("event_type"),
              (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
              (coalesce(col("total_value"), lit(0.0)) + coalesce(col("dv"), lit(0.0))).as("total_value"),
              (coalesce(col("id_checksum"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("id_checksum"))
        })
        .filter(col("n") > 0) // a fully-deleted group leaves the view
        .withColumn("applied_to", lit(to))
        .withColumn("ts", col("d").cast("timestamp"))
        .drop("d")
      // the atomic effect+watermark: claimed id k — a crash-retry of an
      // already-applied range is a ledger no-op, so deltas never double
      sink.appendBatch(spark, dst, next, commitId = Some(k))
    }
    applyRange(0L, -1L, 2L) // bootstrap: the three appends
    applyRange(1L, 2L, 3L)  // merge deltas (±: update moves groups)
    // crash window: snapshot k=1 committed, consumer's in-memory watermark
    // lost — recovery re-derives (k, to) from the last snapshot's
    // `applied_to` and re-applies the SAME range: must be a no-op
    applyRange(1L, 2L, 3L)
    applyRange(2L, 3L, 4L)  // the DV delete's recorded pre-images, −deltas
    applyRange(3L, 4L, 5L)  // the late append
    val last = sink.tailCommits(spark, dst, 2L, 3L)
    require(last.select("applied_to").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(5L), "watermark column drifted")

    pinned(spark, base)(finish(last.select(
      col("event_date"), col("event_type"), col("n"),
      col("total_value"), col("id_checksum"))))
  }

  /** st49's harness: SCD TYPE-2 DIMENSION maintenance from a CDC stream —
    * the classic warehouse shape (every change INSERTS a new version and
    * CLOSES the previous one; history is never overwritten) expressed as
    * [[LakeSink.mergeInto]] on a composite version key, the way every
    * Delta/Iceberg deployment writes it. The events stream arrives in four
    * arrival-ordered micro-batches (event_id ranges — ts is monotone in
    * id, so id order IS arrival order); per batch:
    *
    *   - NEW VERSIONS: one dimension row per event — `skey` =
    *     `user#event_id` (the composite merge key: versions are immutable
    *     facts, so the key embeds the version), chained INTRA-batch by a
    *     per-user window (`valid_to_id` = lead(event_id), last one
    *     `is_current`);
    *   - CLOSE-OUTS: the previous current row of each touched user gets
    *     `valid_to_id` = the batch's first event for that user,
    *     `is_current` = false — an UPDATE addressed by the version's own
    *     `ts` (partition-scoped merge, only the leaves holding closed
    *     versions rewrite). The guard `valid_from_id < first_id` makes the
    *     close-out IDEMPOTENT: on a crash-replay the user's current row is
    *     the batch's own last version, the guard filters it out, and the
    *     re-merge of identical new-version rows is a key-matched no-op —
    *     the harness drives exactly that (batch 2 re-applied verbatim).
    *
    * Scale: close-outs read the dimension filtered to CURRENT rows of the
    * batch's touched users (a broadcast semi of O(batch-keys) against the
    * is_current slice — at 100 TB the dim keeps current rows clustered so
    * this scan prunes, the standard SCD2 layout); new versions never read
    * the dim at all. The merge rewrites only leaves holding closed
    * versions — O(churn), not O(history).
    */
  def replayScd2Dimension(
      spark: SparkSession,
      sfDir: String,
      finish: DataFrame => DataFrame = identity): DataFrame = {
    val events = Tables.load(spark, sfDir, "events")
    val base = scratchDir("graft_scd2_")
    val dim = base.resolve("dim").toString
    val sink = LakeSink
    val fs = new org.apache.hadoop.fs.Path(dim)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    val dimCols = Seq("skey", "user_id", "segment", "value",
      "valid_from_id", "valid_to_id", "is_current", "ts")
    def applyBatch(b: DataFrame): Unit = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("valid_from_id"))
      val newVers = b.select(
          concat_ws("#", col("user_id"), col("event_id")).as("skey"),
          col("user_id"), col("event_type").as("segment"), col("value"),
          col("event_id").as("valid_from_id"), col("ts"))
        .withColumn("valid_to_id", lead(col("valid_from_id"), 1).over(w))
        .withColumn("is_current", col("valid_to_id").isNull)
        .select(dimCols.map(col): _*)
      val firstPerUser = b.groupBy("user_id")
        .agg(min(col("event_id")).as("first_id"))
      if (!fs.exists(new org.apache.hadoop.fs.Path(dim))) {
        sink.appendBatch(spark, dim, newVers, commitId = Some(0L))
      } else {
        val closeOuts = sink.readLake(spark, dim)
          .filter(col("is_current"))
          .drop("event_date")
          .join(broadcast(firstPerUser), Seq("user_id"))
          .filter(col("valid_from_id") < col("first_id"))
          .withColumn("valid_to_id", col("first_id"))
          .withColumn("is_current", lit(false))
          .drop("first_id")
          .select(dimCols.map(col): _*)
        val ups = closeOuts.unionByName(newVers)
        sink.mergeInto(spark, dim, ups, "skey",
          deletes = ups.filter(lit(false)).select("skey", "ts"),
          targetFileBytes = 512L << 10)
      }
    }

    // 2-row driver probe (min/max bound class): the arrival-quartile edges
    val m = events.agg(max(col("event_id"))).head.getLong(0) + 1L
    val cuts = Seq(0L, m / 4, m / 2, 3 * m / 4, m)
    val batches = cuts.sliding(2).map { case Seq(lo, hi) =>
      events.filter(col("event_id") >= lo && col("event_id") < hi)
    }.toSeq
    applyBatch(batches(0))
    applyBatch(batches(1))
    applyBatch(batches(2))
    // crash window: merge committed, consumer high-water not advanced —
    // the same batch re-applies VERBATIM; the dimension must converge
    applyBatch(batches(2))
    applyBatch(batches(3))

    pinned(spark, base)(finish(sink.readLake(spark, dim)))
  }

  /** st50's harness: DOWNSTREAM RESYNC ACROSS A SOURCE RESTORE — the
    * consumer half of f20's bad-deploy arc. A replica maintained by the
    * ledger tail ([[LakeSink.tailCommits]] high-water-mark discipline)
    * has already PROPAGATED a bad deploy's rows when the source rolls
    * back ([[LakeSink.restoreTo]]); the tail then hits the restore's
    * `#rewrite` marker and fails LOUDLY with the resync protocol in the
    * message — which this harness executes: REBUILD the replica from the
    * restored snapshot (`readAsOf(restoreCommit)`, the fresh-bootstrap
    * the boundary error prescribes) as a new replica generation, swap the
    * serving pointer (the e13 rebuild-and-swap pattern — downstream
    * tables are cattle, their ledgers restart at 0), and resume tailing
    * ABOVE the restore. A crash between the rebuild and the high-water
    * advance re-applies the bootstrap verbatim — a claimed-id ledger
    * no-op. At 100 TB the rebuild costs one snapshot scan of the SOURCE
    * (not the history), the same price any new consumer pays to
    * bootstrap; the alternative — a consumer silently tailing across a
    * rollback — would serve the rolled-back rows forever.
    */
  def replayRestoreResync(
      spark: SparkSession,
      sfDir: String,
      finish: DataFrame => DataFrame = identity): DataFrame = {
    val events = Tables.load(spark, sfDir, "events")
    val base = scratchDir("graft_resync_")
    val src = base.resolve("source").toString
    def replica(v: Int) = base.resolve(s"replica_v$v").toString
    val sink = LakeSink
    val dataCols = events.columns.toSeq.map(col)

    // source: three good appends
    (0 until 3).foreach { i =>
      sink.appendBatch(spark, src,
        events.filter(pmod(col("event_id"), lit(4)) === i), commitId = Some(i.toLong))
    }
    // replica v1 bootstraps, then dutifully propagates the BAD deploy
    sink.appendBatch(spark, replica(1),
      sink.tailCommits(spark, src, -1L, 2L).select(dataCols: _*),
      commitId = Some(0L))
    sink.appendBatch(spark, src,
      events.filter(pmod(col("event_id"), lit(4)) === 3)
        .withColumn("value", col("value") * 100.0)
        .withColumn("event_type", lit("corrupted")),
      commitId = Some(3L))
    sink.appendBatch(spark, replica(1),
      sink.tailCommits(spark, src, 2L, 3L).select(dataCols: _*),
      commitId = Some(1L))
    require(sink.readLake(spark, replica(1))
      .filter(col("event_type") === "corrupted").count() > 0,
      "fixture drift: the replica never saw the bad deploy")

    // source rolls back and continues with the corrected batch
    val rs = sink.restoreTo(spark, src, asOf = 2L)
    require(rs.commitId == 4L, s"fixture drift: restore landed at $rs")
    sink.appendBatch(spark, src,
      events.filter(pmod(col("event_id"), lit(4)) === 3), commitId = Some(5L))

    // the tail must refuse the rewrite boundary, not cross it silently
    val boundary =
      try { sink.tailCommits(spark, src, 3L, 4L); false }
      catch { case e: IllegalStateException => e.getMessage.contains("REWRITE") }
    require(boundary, "ledger tail crossed a restore commit silently")

    // RESYNC: rebuild from the restored snapshot, swap, tail above it
    val snap = sink.readAsOf(spark, src, 4L).select(dataCols: _*)
    sink.appendBatch(spark, replica(2), snap, commitId = Some(0L))
    // crash window: rebuild committed, high-water not advanced — the
    // verbatim re-apply must be a ledger no-op
    sink.appendBatch(spark, replica(2), snap, commitId = Some(0L))
    sink.appendBatch(spark, replica(2),
      sink.tailCommits(spark, src, 4L, 5L).select(dataCols: _*),
      commitId = Some(1L))

    pinned(spark, base)(finish(sink.readLake(spark, replica(2))))
  }

  /** The engine-crash simulation shared by the lake replays: delete the
    * streaming checkpoint's LAST batch-commit record (offsets/<N> stays,
    * commits/<N> goes — exactly the on-disk state a hard kill between the
    * sink's success and the engine's commit write leaves), so the next
    * query instance must re-execute that batch. Returns the replayed id.
    */
  private[graft] def dropLastCommitRecord(ckpt: Path): Long = {
    val commitsDir = ckpt.resolve("commits")
    val lastCommit = {
      val listing = Files.list(commitsDir)
      try listing.filter(f => f.getFileName.toString.forall(_.isDigit))
        .max(java.util.Comparator.comparingLong(f =>
          f.getFileName.toString.toLong))
        .orElseThrow(() => new IllegalStateException(
          s"no commit records under $commitsDir — checkpoint layout changed?"))
      finally listing.close()
    }
    val replayedId = lastCommit.getFileName.toString.toLong
    Files.delete(lastCommit)
    // ChecksumFs keeps a hidden .N.crc sibling; left behind, it makes the
    // restarted query's commit rewrite fail rename-on-close
    Files.deleteIfExists(commitsDir.resolve(s".$replayedId.crc"))
    replayedId
  }

  /** Assert that batch `batchId` consumed NO source data: its offsets-log
    * source positions equal the previous batch's. The live-compaction replay
    * leans on this — it deletes the dropped commit's input files (the sweep
    * rewrites every leaf) while `ignoreMissingFiles` is set, so if the
    * replayed batch DID reference data files its rows would be silently
    * skipped on replay and arrive only as re-deliveries behind the
    * sentinel-advanced watermark — shed as late, permanently undercounted.
    * Today the invariant holds by construction (AvailableNow's trailing
    * batch is the no-data watermark-eviction batch), but it is load-bearing:
    * a maxFilesPerTrigger/chunking change that puts data files in the last
    * batch must fail HERE, not as a one-in-a-hundred hash mismatch.
    */
  private def requireNoDataCommit(ckpt: Path, batchId: Long): Unit = {
    def sourceOffsets(id: Long): Seq[String] = {
      val f = ckpt.resolve("offsets").resolve(id.toString)
      require(Files.exists(f), s"offsets/$id missing — checkpoint layout changed?")
      // line 1 = version, line 2 = batch metadata (timestamps, confs); the
      // remaining lines are the per-source offsets — the only part that
      // moves when a batch consumes data
      Files.readAllLines(f).asScala.toSeq.drop(2)
    }
    require(batchId > 0, s"batch $batchId has no predecessor to compare against")
    val (prev, cur) = (sourceOffsets(batchId - 1), sourceOffsets(batchId))
    require(prev == cur,
      s"dropped commit $batchId references source data (offsets moved " +
        s"$prev -> $cur); sweeping its input files before the replay would " +
        "silently lose rows — re-chunk so the final batch is a no-data batch")
  }

  /** BRONZE → SILVER → GOLD — the reference's end-to-end topology
    * (Kafka → stateful transform → Cassandra, spark-streaming.py:150-221)
    * generalized to the lake, composing the two hops st32 and st36 certify
    * separately into ONE pipeline with a kill+restart on EACH hop:
    *
    *   bronze: events replayed through the production [[LakeSink]]
    *     (staged commit, ledger, compaction sweeps) in two segments split
    *     by event TIME, with the engine's last commit record dropped
    *     between them — the restarted instance must recover via the
    *     ledger;
    *   silver: a second checkpointed stream TAILS the bronze lake
    *     incrementally (drain #1 sees only segment 1; drain #2 picks up
    *     segment 2's files), runs a watermarked 6h tumbling window ×
    *     event_type aggregation, and sinks each finalized window through a
    *     second [[LakeSink]] — then ITS last commit record is dropped and
    *     a third drain must recover idempotently;
    *   gold: a batch census over the silver lake, which the DuckDB oracle
    *     reproduces from the raw fixture — any duplicate, lost, or
    *     half-flushed window in either hop shifts it.
    *
    * Two disciplines make the tail exact, and both are the production
    * rules, not test tricks:
    *
    *   - bronze data files carry mod times derived from their DATE leaf,
    *     so the file-stream source feeds the silver hop in event-time
    *     order up to one-day disorder, and the silver watermark delay
    *     (25h) covers exactly that bound — no real row is ever late. (A
    *     production bronze tail reads appends in rough arrival order; the
    *     stamp reconstructs that order for a replayed fixture.)
    *   - in the default mode, bronze COMPACTION runs only in segment 1,
    *     BEFORE the tail first attaches (the tail then reads the compacted
    *     rewrites); segment 2 appends with compaction off. A bare
    *     path-tracking file source cannot survive its inputs being
    *     rewritten underneath it — the rule every file-based CDC tail
    *     lives by. The liveCompaction mode below lifts exactly this
    *     restriction by hardening the consumer instead.
    *
    * A far-future sentinel (its own date leaf, highest mod time, read
    * last) advances the silver watermark past every real window's end so
    * append mode flushes them all; the sentinel's OWN window stays 25h
    * short of finalizing, so no sentinel row can reach silver or gold.
    *
    * ==Live compaction (st40)==
    *
    * `liveCompaction = true` drops the compact-before-tail discipline and
    * instead compacts the ALREADY-TAILED bronze leaves BETWEEN silver
    * drains — the scenario the plain tail cannot survive (the rewrite's
    * new file names re-deliver every row of the leaf to a path-tracking
    * source). The silver hop is hardened with the two moves a production
    * Delta/Iceberg CDC consumer makes (`ignoreChanges` re-delivery
    * semantics), composed from Spark primitives:
    *
    *   - `dropDuplicatesWithinWatermark(event_id)` upstream of the window
    *     agg: a re-delivered row whose event time is still inside the
    *     watermark horizon is dropped by dedup state (its id is retained
    *     exactly until the watermark passes it);
    *   - the watermark's own late filter: a re-delivered row OLDER than
    *     the watermark is dropped before the dedup — and it cannot be a
    *     first delivery, because compaction only rewrites rows that were
    *     readable (and mod-time date-ordered) before the sweep.
    *
    *   The two horizons meet with no gap: every re-delivered row is on
    *   one side or the other, so the tail is exactly-once under live
    *   rewrites with dedup state bounded by ingest-rate × watermark
    *   horizon, not corpus. `spark.sql.files.ignoreMissingFiles` is set
    *   for the drains to close the list-then-deleted race a sweep
    *   concurrent with a RUNNING drain would open (the rows of a skipped
    *   file still arrive via the rewrite).
    */
  def replayBronzeSilverGold(
      spark: SparkSession,
      sfDir: String,
      segmentChunks: Int = 2,
      liveCompaction: Boolean = false): DataFrame = {
    val events = Tables.load(spark, sfDir, "events")
    val base = scratchDir("graft_b2g_")
    val streamDir = Files.createDirectory(base.resolve("in"))
    val bronzeDir = base.resolve("bronze").toString
    val silverDir = base.resolve("silver").toString
    val ckptB = base.resolve("ckpt_bronze")
    val ckptS = base.resolve("ckpt_silver")

    val (minMs, maxMs) = tsBoundsMs(events)
    val midMs = (minMs + maxMs) / 2
    val now = System.currentTimeMillis()
    // stage BOTH segments' chunk files concurrently up front (guide §2.6 —
    // segment 2's staging overlaps segment 1's bronze drain); publication
    // order, names and mtimes are exactly the sequential version's:
    // publish index = seg * segmentChunks + i in call order
    val stagePool = java.util.concurrent.Executors.newFixedThreadPool(2 * segmentChunks)
    val stagedSegChunks = {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(stagePool)
      (for (seg <- 0 until 2; i <- 0 until segmentChunks) yield (seg, i) -> {
        val segFilter =
          if (seg == 0) unix_millis(col("ts")) < midMs
          else unix_millis(col("ts")) >= midMs
        scala.concurrent.Future {
          events.filter(segFilter)
            .filter(pmod(col("event_id"), lit(segmentChunks)) === i)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .coalesce(1).write.parquet(base.resolve(s"stage_${seg}_$i").toString)
        }
      }).toMap
    }
    stagePool.shutdown()
    def publishChunk(seg: Int, i: Int): Unit = {
      scala.concurrent.Await.result(stagedSegChunks((seg, i)),
        scala.concurrent.duration.Duration(10, "min"))
      val published = seg * segmentChunks + i
      publish(base.resolve(s"stage_${seg}_$i"), streamDir,
        f"batch_$published%03d", now + published * 1000L)
    }
    val bronzeSchema =
      events.select("event_id", "ts", "user_id", "event_type", "value").schema
    val ignoreMissing =
      if (liveCompaction) Seq("spark.sql.files.ignoreMissingFiles" -> "true") else Nil

    // bronze data files get mod times from their date leaf so the silver
    // tail reads them in event-time order; idempotent over already-read
    // files (the source tracks paths, not times)
    def stampBronzeByDate(): Unit = {
      val root = java.nio.file.Paths.get(bronzeDir)
      val walk = Files.walk(root)
      try walk.iterator().asScala.foreach { f =>
        val leaf = f.getParent
        if (Files.isRegularFile(f) && leaf != null &&
            leaf.getFileName.toString.startsWith("event_date=")) {
          val day = java.time.LocalDate.parse(
            leaf.getFileName.toString.stripPrefix("event_date="))
          Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
            .fromMillis(day.toEpochDay * 86400000L))
        }
      } finally walk.close()
    }
    isolated(spark, ignoreMissing: _*) { s =>
      def runBronze(sink: (DataFrame, Long) => Unit): Unit = {
        val q = fileStream(s, bronzeSchema, streamDir)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckptB.toString)
          .foreachBatch(sink)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // ---- bronze segment 1 ----
      // compact-before-tail mode: the sweep lands during lay-down, before
      // the tail attaches. Live mode: lay down FRAGMENTED and let the
      // between-drain sweep rewrite leaves the tail has already consumed.
      (0 until segmentChunks).foreach(publishChunk(0, _))
      runBronze(LakeSink.datePartitioned(bronzeDir, tsCol = "ts",
        compactEvery = if (liveCompaction) 0L else segmentChunks.toLong,
        targetFileBytes = 512L << 10, minFilesToCompact = 2))
      val bronzeReplayed = dropLastCommitRecord(ckptB)
      System.err.println(s"[b2g] bronze: dropped commit $bronzeReplayed; " +
        "segment-2 run must recover via the ledger")

      // ---- silver drain #1 over the compacted segment-1 lake ----
      stampBronzeByDate()
      // the tail re-discovers event_date from the Hive leaves (st36's shape)
      val bronzeReadSchema = bronzeSchema.add("event_date", DateType)
      val silverSink = LakeSink.datePartitioned(silverDir, tsCol = "ts",
        compactEvery = 3L, targetFileBytes = 512L << 10, minFilesToCompact = 2)
      def runSilver(): Unit = {
        val in = s.readStream.schema(bronzeReadSchema)
          .option("maxFilesPerTrigger", "5")
          .option("maxFileAge", "100000d") // date-derived stamps are "old"
          .parquet(bronzeDir)
        val watermarked = in.withWatermark("ts", "25 hours")
        // live-rewrite hardening: drop a compaction re-delivery while its
        // id is inside the watermark horizon; older re-deliveries fall to
        // the watermark's own late filter (see the liveCompaction scaladoc)
        val deduped =
          if (liveCompaction) watermarked.dropDuplicatesWithinWatermark("event_id")
          else watermarked
        val agg = deduped
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"),
            sum(col("event_id")).as("ck"))
          .selectExpr("window.start AS ts", "event_type", "n", "sv", "ck")
        val q = agg.writeStream.outputMode("append")
          .option("checkpointLocation", ckptS.toString)
          .foreachBatch(silverSink)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // compact the TAILED bronze prefix in place — every leaf's files are
      // rewritten under new names, so the next drain re-lists and
      // re-delivers the whole leaf; the hardened silver hop must shed it
      def sweepBronze(): Unit = {
        val done = LakeSink.compactPartitions(s, bronzeDir,
          targetFileBytes = 512L << 10, minFiles = 2)
        System.err.println(s"[b2g] live-compacted ${done.size} tailed bronze leaves")
        stampBronzeByDate() // rewrites carry fresh mod times; restore date order
      }
      runSilver()
      if (liveCompaction) sweepBronze()

      // ---- bronze segment 2 + sentinel: compaction OFF (tail attached) ----
      (0 until segmentChunks).foreach(publishChunk(1, _))
      val sentinel = s.range(1).selectExpr("-1L AS event_id",
        s"timestamp_millis(${maxMs + 40L * 86400000}) AS ts",
        "-1L AS user_id", s"'$SentinelType' AS event_type", "0D AS value")
      val sentStage = base.resolve("stage_sentinel")
      sentinel.coalesce(1).write.parquet(sentStage.toString)
      // the sentinel publishes after both segments: index 2 * segmentChunks
      val sentIdx = 2 * segmentChunks
      publish(sentStage, streamDir, f"batch_$sentIdx%03d", now + sentIdx * 1000L)
      runBronze(LakeSink.datePartitioned(bronzeDir, tsCol = "ts",
        compactEvery = 0L))

      // ---- silver drain #2 (+ its own kill+restart) ----
      stampBronzeByDate()
      runSilver()
      val silverReplayed = dropLastCommitRecord(ckptS)
      System.err.println(s"[b2g] silver: dropped commit $silverReplayed; " +
        "drain #3 must replay it idempotently")
      // live mode: sweep AGAIN so drain #3 faces the committed-batch replay
      // and a fresh leaf rewrite simultaneously — the two recovery paths
      // (engine replay via the sink ledger, re-delivery via dedup + late
      // filter) must compose without double-counting a single row. Safe
      // ONLY because the replayed batch read no files (asserted): the
      // sweep deletes the paths its offset entry references, and
      // ignoreMissingFiles would otherwise skip those rows on replay
      if (liveCompaction) {
        requireNoDataCommit(ckptS, silverReplayed)
        sweepBronze()
      }
      runSilver()

      // ---- gold: batch census over the silver lake ----
      // collect() pins the k-row census to the driver so the scratch tree
      // can be reclaimed before returning. The date travels as a STRING across
      // the collect: decoding a DateType to java.sql.Date goes through
      // DateTimeUtils.toJavaDate → sun.util.calendar, which is
      // module-sealed on Java 17 unless the JVM was launched with
      // --add-opens (plain `java -cp` isn't). Cast back after re-create —
      // the string→date cast runs entirely inside Catalyst.
      val gold = s.read.parquet(silverDir)
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_windows"), sum(col("n")).as("n_events"),
          round(sum(col("sv")), 2).as("total_value"),
          sum(col("ck")).as("id_checksum"))
        .withColumn("event_date", col("event_date").cast("string"))
      pinned(spark, base)(gold)
        .withColumn("event_date", col("event_date").cast("date"))
        .select("event_date", "event_type", "n_windows", "n_events",
          "total_value", "id_checksum")
    }
  }

  /** st43: SOURCE SCHEMA EVOLUTION through a stateful streaming tail — the
    * bronze-upgrade path st26 (STATE schema evolution) does not cover: the
    * upstream table gains a column mid-stream, and the consumer restarts
    * with the WIDENED read schema on the same checkpoint. The certified
    * contract, each piece load-bearing in the hash:
    *
    *   - phase 1 tails the original 5-column schema through a watermarked
    *     `dropDuplicatesWithinWatermark(event_id)` (the st40 hardened-tail
    *     operator — stateful, but keyed on event_id only, so the ADDED
    *     column never touches the state schema and the checkpoint needs no
    *     state migration);
    *   - phase 2 restarts `readStream` with the union schema (f5's
    *     mergeSchema discipline applied to the file-stream source): files
    *     already processed stay processed, phase-1 OUTPUT files lack the
    *     new column and null-fill under the phase-2 read schema — the
    *     "old emissions predate the upgrade" shape, priced by the census
    *     grouping pre-evolution rows under the 'legacy' sentinel;
    *   - the restart must RESTORE dedup state across the schema change:
    *     phase 2's first file re-delivers every phase-1 row of the last
    *     20 h (ts >= max(phase-1) − 20 h — inside the restored watermark,
    *     so the late filter cannot shed them, and inside the dedup
    *     retention horizon, so ONLY restored state can). A consumer that
    *     lost its state on the widened-schema restart double-counts ~266
    *     rows at sf0.01 and breaks the hash; one that mis-null-fills or
    *     drops pre-evolution rows shifts the 'legacy' cells.
    *
    * Returns the per-(channel, event_type) census with pre-evolution rows
    * under channel='legacy', pinned (scratch reclaimed before returning).
    */
  def replaySourceEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val base = scratchDir("graft_srcevolve_")
    val streamDir = Files.createDirectory(base.resolve("in"))
    val outDir = base.resolve("out")

    val (minMs, maxMs) = tsBoundsMs(events)
    val midMs = (minMs + maxMs) / 2
    // the evolved column, a pure function of pre-existing fields so the
    // oracle can reproduce it: which ingest channel a v2 row came from
    val channelCol = concat(col("event_type"), lit("_"), pmod(col("user_id"), lit(3)))
    val half1 = events.filter(unix_millis(col("ts")) < midMs)
    val half2 = events.filter(unix_millis(col("ts")) >= midMs)
      .withColumn("channel", channelCol)
    val now = System.currentTimeMillis()
    var published = 0
    // staging (a private-dir write, invisible to the stream) is split from
    // publication so phase-2 staging can overlap the phase-1 drain
    // (guide §2.6); names/mtimes follow publication order exactly as the
    // sequential version's did
    val stagePool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val stageEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(stagePool)
    def stageDf(df: DataFrame, name: String): scala.concurrent.Future[Unit] =
      scala.concurrent.Future {
        df.coalesce(1).write.parquet(base.resolve(s"stage_$name").toString)
      }
    def publishStaged(staged: scala.concurrent.Future[Unit], name: String): Unit = {
      scala.concurrent.Await.result(staged,
        scala.concurrent.duration.Duration(10, "min"))
      publish(base.resolve(s"stage_$name"), streamDir,
        f"batch_${published}%03d_$name", now + published * 1000L)
      published += 1
    }
    // phase 1: two time-range chunks of the original-schema half
    val q1 = (minMs + midMs) / 2
    publishStaged(stageDf(half1.filter(unix_millis(col("ts")) < q1), "p1a"), "p1a")
    publishStaged(stageDf(half1.filter(unix_millis(col("ts")) >= q1), "p1b"), "p1b")

    val schema1 = half1.schema
    val schema2 = half2.schema // = schema1 + channel
    try isolated(spark) { s =>
      def drain(schema: StructType): Unit =
        startBatchDirSink(fileStream(s, schema, streamDir)
          .withWatermark("ts", "25 hours")
          .dropDuplicatesWithinWatermark("event_id"),
          "append", base.resolve("ckpt"), outDir).awaitTermination()
      // pre-stage all of phase 2 so its jobs overlap the phase-1 drain:
      // every staged frame is a pure function of the fixture, and nothing
      // reaches streamDir until the post-drain publishStaged calls
      // phase 2, file 1: the re-delivery probe — phase-1 rows of the last
      // 20 h, now carrying the evolved column (a re-delivered row reads
      // back in the NEW schema). Restored dedup state must drop them all.
      val redeliverStaged: scala.concurrent.Future[Long] = scala.concurrent.Future {
        val maxP1 = half1.agg(unix_millis(max(col("ts")))).collect()(0).getLong(0)
        val redeliver = half1
          .filter(unix_millis(col("ts")) >= maxP1 - 20L * 3600 * 1000)
          .withColumn("channel", channelCol)
        // the probe must have teeth: these rows beat the late filter by
        // construction (ts >= restored watermark + 5 h), so ONLY restored
        // dedup state can shed them — but only if there are any
        val n = redeliver.count()
        require(n > 0,
          "empty re-delivery window — the restart probe is vacuous on this fixture")
        redeliver.coalesce(1).write
          .parquet(base.resolve("stage_redeliver").toString)
        n
      }
      // then the evolved half, two ascending time-range chunks
      val q3 = (midMs + maxMs) / 2
      val p2aStaged = stageDf(half2.filter(unix_millis(col("ts")) < q3), "p2a")
      val p2bStaged = stageDf(half2.filter(unix_millis(col("ts")) >= q3), "p2b")
      drain(schema1)
      System.err.println("[evolve] phase 1 drained on the 5-column schema; " +
        "bronze gains `channel`, consumer restarts with the union schema")
      val nRedeliver = scala.concurrent.Await.result(redeliverStaged,
        scala.concurrent.duration.Duration(10, "min"))
      System.err.println(s"[evolve] re-delivering $nRedeliver phase-1 rows " +
        "across the widened-schema restart; restored dedup state must shed them")
      publishStaged(scala.concurrent.Future.successful(()), "redeliver")
      publishStaged(p2aStaged, "p2a")
      publishStaged(p2bStaged, "p2b")
      drain(schema2)
    } finally {
      stagePool.shutdown()
      reclaimStreamState(base)
    }
    // gold census under the union schema: phase-1 batch files lack
    // `channel` and null-fill — surfaced as the 'legacy' bucket
    pinned(spark, base)(readBatchDirs(spark, outDir, schema2)
      .groupBy(coalesce(col("channel"), lit("legacy")).as("channel"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"),
        sum(col("event_id")).as("id_checksum")))
  }

  /** st44: STREAMING TAIL FROM A SNAPSHOT — the lake-consumer bootstrap
    * shape Delta calls `startingVersion`: a new downstream job must not
    * re-stream years of history, so it batch-loads the as-of-N snapshot
    * ([[LakeSink.readAsOf]]) and then tails ONLY the commits after N,
    * exactly-once across the transition. The certified contract:
    *
    *   - the lake is laid by the production sink with a compaction sweep
    *     exactly AT the snapshot horizon (batches 0..3, sweep at 3, then
    *     gb4/gb5 appends), so the bootstrap reads compacted `gc3` rewrites
    *     while the same leaves already hold post-horizon files the tail —
    *     and only the tail — must deliver;
    *   - the tail is the plain file-stream source over the lake plus a
    *     LINEAGE FILTER on the per-batch deterministic file names
    *     (`g[bc]<id>-` with id > N): pre-horizon files are read-and-
    *     dropped once at bootstrap (the checkpointed source never re-lists
    *     a processed path), so the steady-state tail pays only for new
    *     files. At 100 TB the once-only bootstrap pass is the cost of NOT
    *     having a manifest source; a ledger-driven DSv2 source tailing
    *     `_graft_commits` markers would skip even that and is the stated
    *     upgrade path;
    *   - mid-tail the engine's last commit record is dropped and two more
    *     batches (a second sink generation, gb6/gb7) land before the
    *     restart — the recovery drain must replay the un-committed
    *     micro-batch idempotently AND pick up the new commits;
    *   - the census tags every silver row with the hop that delivered it
    *     (`snapshot` vs `tail`). A tail that re-delivers a snapshot row, a
    *     bootstrap that leaks a post-horizon row, a replay double-append,
    *     or a missed append each shift a (date, type, phase) cell.
    */
  def replayTailFromSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val base = scratchDir("graft_snaptail_")
    val lakeDir = base.resolve("lake").toString
    val snapDir = base.resolve("snap").toString
    val tailOut = base.resolve("tail")
    val ckpt = base.resolve("ckpt")
    val horizon = 3L

    // bronze: batches 0..5 through the production sink, one sweep at the
    // snapshot horizon (compactEvery=4) — leaves then hold gc3 + gb4 + gb5
    val sink = LakeSink.datePartitioned(lakeDir, compactEvery = 4L,
      targetFileBytes = 512L << 10, minFilesToCompact = 2)
    (0 until 6).foreach { i =>
      sink(events.filter(pmod(col("event_id"), lit(8)) === i), i.toLong)
    }

    // BOOTSTRAP: batch-load the snapshot once; this is the whole history
    // scan a tail-from-zero would otherwise re-stream
    LakeSink.readAsOf(spark, lakeDir, horizon)
      .select("event_id", "event_date", "event_type", "value")
      .write.parquet(snapDir)

    // TAIL: file-stream the live lake, serving only post-horizon lineage
    val schema = events.schema.add("event_date", DateType)
    def drain(): Unit =
      startBatchDirSink(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "7").parquet(lakeDir)
        .filter(regexp_extract(input_file_name(), "/g[bc](\\d+)-", 1)
          .cast("long") > horizon)
        .select("event_id", "event_date", "event_type", "value"),
        "append", ckpt, tailOut).awaitTermination()
    drain()
    // transition-batch crash: the engine committed the sink-side effect
    // but lost its commit record — recovery must replay it idempotently
    val replayedId = dropLastCommitRecord(ckpt)
    require(replayedId > 0,
      s"tail drained in a single micro-batch ($replayedId) — the replay probe needs a longer tail")
    // two more commits land before the restart (a fresh sink generation;
    // no sweep — live-rewrite re-delivery is st40's certified concern)
    val sink2 = LakeSink.datePartitioned(lakeDir, compactEvery = 0L)
    (6 until 8).foreach { i =>
      sink2(events.filter(pmod(col("event_id"), lit(8)) === i), i.toLong)
    }
    System.err.println(s"[snaptail] dropped commit $replayedId; restarting the " +
      "tail across the replay + two new commits")
    drain()

    pinned(spark, base)(spark.read.parquet(snapDir).withColumn("phase", lit("snapshot"))
      .unionByName(readBatchDirs(spark, tailOut,
          StructType(schema.filter(f => f.name != "ts" && f.name != "user_id")))
        .withColumn("phase", lit("tail")))
      .groupBy(col("event_date"), col("event_type"), col("phase"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"),
        sum(col("event_id")).as("id_checksum")))
  }

  /** st45: LEDGER-DRIVEN INCREMENTAL TAIL — st44's stated 100 TB upgrade
    * path, executed: instead of file-streaming the lake (whole-table
    * listing per trigger, bootstrap read-and-drop, dedup hardening against
    * compaction re-delivery), the consumer tails the COMMIT LEDGER with a
    * self-owned high-water mark — the Kafka-offsets discipline over
    * [[LakeSink.tailCommits]]. Certified, each piece load-bearing:
    *
    *   - bootstrap = `readAsOf(3)` + mark 3 (batches 0..3, sweep at 3);
    *   - each consumption reads `(mark, latest]` and writes a
    *     DETERMINISTICALLY-NAMED per-range output, advancing the mark only
    *     after the write — the crash between effect and mark is replayed
    *     by rewinding the mark and re-consuming: the overwrite is
    *     idempotent (asserted by re-running the first range);
    *   - COMPACTION IMMUNITY, the property the file-stream tail buys with
    *     dedup state (st40) and this tail gets for free: between
    *     consumptions a full sweep merges the already-served batches into
    *     a `gc` rewrite; re-reading the SAME range must return the SAME
    *     rows, now served from the retained pre-sweep generation — the
    *     harness requires set equality before/after the sweep;
    *   - two more commits from a successor sink generation are consumed
    *     incrementally after the sweep.
    *
    * The census tags rows by delivering hop (snapshot vs tail) — a
    * re-delivered, double-consumed, or dropped batch shifts a cell.
    */
  def replayLedgerTail(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val base = scratchDir("graft_ledgertail_")
    val lakeDir = base.resolve("lake").toString
    val silver = base.resolve("silver")
    val hwPath = base.resolve("hw")
    Files.createDirectories(silver)

    val sink = LakeSink.datePartitioned(lakeDir, compactEvery = 4L,
      targetFileBytes = 512L << 10, minFilesToCompact = 2)
    (0 until 6).foreach { i =>
      sink(events.filter(pmod(col("event_id"), lit(8)) === i), i.toLong)
    }

    // bootstrap: snapshot + high-water mark
    LakeSink.readAsOf(spark, lakeDir, 3L)
      .select("event_id", "event_date", "event_type", "value")
      .write.parquet(silver.resolve("snapshot").toString)
    def writeHw(v: Long): Unit = { Files.writeString(hwPath, v.toString); () }
    def readHw(): Long = Files.readString(hwPath).trim.toLong
    writeHw(3L)
    def maxMarker(): Long = {
      val l = Files.list(base.resolve("lake").resolve("_graft_commits"))
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
        .foldLeft(-1L)(math.max)
      finally l.close()
    }
    def rangeCols(df: DataFrame): DataFrame =
      df.select("event_id", "event_date", "event_type", "value")
    def consume(): (Long, Long) = {
      val from = readHw(); val to = maxMarker()
      if (to > from) {
        rangeCols(LakeSink.tailCommits(spark, lakeDir, from, to))
          .write.mode("overwrite")
          .parquet(silver.resolve(s"range_${from}_$to").toString)
        writeHw(to)
      }
      (from, to)
    }
    val (f1, t1) = consume()
    require(f1 == 3L && t1 == 5L, s"unexpected first tail range ($f1, $t1]")
    // crash between effect and mark: rewind and re-consume — idempotent
    writeHw(3L)
    require(consume() == ((3L, 5L)), "crash-replay consumed a different range")

    // compaction immunity: the served range must be byte-stable across a
    // sweep that merges its batches away
    def rangeIds(from: Long, to: Long): Set[Long] =
      rangeCols(LakeSink.tailCommits(spark, lakeDir, from, to))
        .select("event_id").collect().map(_.getLong(0)).toSet
    val preSweep = rangeIds(3L, 5L)
    val epoch = LakeSink.claimWriterEpoch(spark, lakeDir)
    val swept = LakeSink.compactPartitions(spark, lakeDir, 512L << 10,
      minFiles = 2, fenceEpoch = Some(epoch))
    require(swept.nonEmpty, "immunity probe vacuous: the sweep rewrote nothing")
    val postSweep = rangeIds(3L, 5L)
    require(preSweep == postSweep,
      s"compaction changed a served range: ${(preSweep -- postSweep).size} lost, " +
        s"${(postSweep -- preSweep).size} gained")

    // a successor generation appends two more commits; consume them
    val sink2 = LakeSink.datePartitioned(lakeDir, compactEvery = 0L)
    (6 until 8).foreach { i =>
      sink2(events.filter(pmod(col("event_id"), lit(8)) === i), i.toLong)
    }
    require(consume() == ((5L, 7L)), "post-sweep appends not tailed")

    pinned(spark, base)(spark.read
      .parquet(silver.resolve("snapshot").toString)
      .withColumn("phase", lit("snapshot"))
      .unionByName(spark.read
        .parquet(silver.resolve("range_3_5").toString,
          silver.resolve("range_5_7").toString)
        .withColumn("phase", lit("tail")))
      .groupBy(col("event_date"), col("event_type"), col("phase"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"),
        sum(col("event_id")).as("id_checksum")))
  }

  /** Scratch trees not yet reclaimed by [[cleanupScratch]] — reaped at JVM
    * exit. Several harnesses return a DataFrame that lazily reads its
    * `out/` tree, so they cannot delete eagerly; before this hook each such
    * evaluation leaked its base dir onto /dev/shm FOREVER (measured: ~900
    * `graft_replay_*` + ~200 `graft_evolve_*` dirs on the box after half a
    * bench run), and a day of full bench runs accumulates GBs of stale
    * tmpfs — RAM — that outlives every JVM that wrote it.
    */
  private val liveScratch =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val scratchReaperInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      liveScratch.forEach { p =>
        try deleteRecursively(p)
        catch { case _: Throwable => () } // exit-time best effort
      }, "graft-scratch-reaper"))
    true
  }

  /** RAM-backed scratch when /dev/shm is writable (replay cost is
    * fsync-dominated; a verification harness needs no durability) — the
    * one place the shm-or-tmp choice lives. Every dir is registered for
    * exit-time reaping; callers that can reclaim earlier (nothing lazy
    * still reads the tree) use [[cleanupScratch]].
    */
  private[graft] def scratchDir(prefix: String): Path = {
    require(scratchReaperInstalled)
    val shm = java.nio.file.Paths.get("/dev/shm")
    val dir =
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix)
    liveScratch.add(dir)
    dir
  }

  /** Reclaim a scratch tree once nothing lazy still reads from it. */
  private[graft] def cleanupScratch(p: Path): Unit = {
    liveScratch.remove(p)
    deleteRecursively(p)
  }

  /** st42: the checkpoint's STATE STORE read back as a DataFrame — Spark
    * 4's state data source (`spark.read.format("statestore")`), the ops
    * introspection surface a 100 TB deployment debugs with (which keys
    * are open? how big is a window's buffer? is one partition's store
    * bloated?) without touching the running query. The harness streams
    * only the FIRST HALF of the fixture (ts below the [min,max] midpoint
    * — a pure function of the data, so the oracle can reproduce the cut)
    * through the st37-silver window agg and stops; the state store then
    * holds exactly the OPEN windows: groups whose window end is still
    * ahead of the final eviction watermark (max half-ts − 25h; trailing
    * no-data batches settle eviction, so the boundary is exact — a
    * window whose end equals the watermark is evicted, `end > wm` kept).
    * The returned census is the store's own content — key fields plus
    * the raw partial-aggregation buffer — so a leaked evicted window, a
    * lost partition's store, or a buffer/oracle divergence each break
    * the hash.
    */
  def stateStoreIntrospect(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.load(spark, sfDir, "events")
    val base = scratchDir("graft_stateread_")
    val streamDir = Files.createDirectory(base.resolve("in"))
    val ckpt = base.resolve("ckpt").toString
    val (minMs, maxMs) = tsBoundsMs(events)
    val midMs = (minMs + maxMs) / 2
    val half = events.filter(unix_millis(col("ts")) < midMs)
      .select("event_id", "ts", "user_id", "event_type", "value")
    isolated(spark) { s =>
      val now = System.currentTimeMillis()
      (0 until 2).foreach { i =>
        val stage = base.resolve(s"stage_$i")
        half.filter(pmod(col("event_id"), lit(2)) === i)
          .coalesce(1).write.parquet(stage.toString)
        publish(stage, streamDir, f"batch_$i%03d", now - (4 - i) * 60000L)
      }
      val q = fileStream(s, half.schema, streamDir)
        .withWatermark("ts", "25 hours")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("noop")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the store as a relation: key = (window, event_type), value = the
      // partial agg buffer. Timestamps travel as strings across the pinning
      // collect (same module-opens hazard class as the b2g gold census)
      val state = s.read.format("statestore").option("path", ckpt).load()
        .selectExpr("CAST(key.window.start AS STRING) AS window_start",
          "key.event_type AS event_type", "value.count AS n",
          "round(value.sum, 2) AS sv")
      pinned(spark, base)(state)
        .withColumn("window_start", col("window_start").cast("timestamp"))
        .select("window_start", "event_type", "n", "sv")
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** st51's harness: the ingest tail as an OPTIMISTIC writer — a real
    * micro-batch stream whose foreachBatch commits through
    * [[LakeSink.appendBatchOcc]] (writerId `tail`, dedupKey = the engine
    * batch id), SHARING the table with an independent merge job instead
    * of owning it through the exclusive fence. Two windows exercised:
    *
    *   1. crash AFTER the OCC commit, BEFORE the engine checkpoint: the
    *      restart replays the batch, and the claimed-id discipline the
    *      non-OCC sinks use cannot answer it (OCC ids float by design) —
    *      the dedupKey does: the replay short-circuits off its own
    *      `#occ tail b<n>` marker no matter where the ledger head is.
    *   2. an independent MERGE job lands between tail batches under its
    *      own exclusive epoch: the tail's next OCC call observes the new
    *      epoch as its shared token and keeps committing — the two
    *      writers interleave on one ledger, neither dying on the fence.
    *
    * In-harness guards pin the ledger arithmetic (tail commits at 0,1,2;
    * the merge's rewrite at 3; the resumed tail at 4,5,6) and the replay
    * short-circuit; the oracle census prices exactly-once — a doubled
    * replayed batch, a lost post-merge batch, or a dropped merge effect
    * each shift a (date, type) cell.
    */
  def replayOccTail(spark: SparkSession, sfDir: String, chunks: Int = 6,
      phase1Chunks: Int = 3): DataFrame = {
    val base = scratchDir("graft_occtail_")
    val lakeDir = base.resolve("lake").toString
    val committedIds =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    // the replay of batch 1 must dedup off its marker, not double-append
    val crash = new CrashScenario("occtail", Some((1L, "post-commit")))
    // the events are loaded on the isolated session: the between-phase
    // merge builds its inputs from them, so its jobs plan under the same
    // conf as the stream's
    isolated(spark) { s =>
      val events = Tables.load(s, sfDir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      // an independent merge job between tail batches: its own exclusive
      // epoch, its own ledger slot — the tail resumes right past it
      def mergeBetweenPhases(): Unit = {
        require(Option(committedIds.get(1L)).map(_.longValue).contains(1L),
          s"replayed batch 1 landed at ${committedIds.get(1L)} — the dedupKey " +
            "did not short-circuit")
        val inPhase1 = pmod(col("event_id"), lit(chunks)) < phase1Chunks
        val m = LakeSink.mergeInto(s, lakeDir,
          events.filter(inPhase1 && pmod(col("event_id"), lit(10)) === 7)
            .withColumn("event_type", lit("updated"))
            .withColumn("value", col("value") + 1000.0),
          "event_id",
          events.filter(inPhase1 && pmod(col("event_id"), lit(10)) === 3)
            .select("event_id", "ts"))
        require(m.commitId == phase1Chunks.toLong,
          s"merge expected commit $phase1Chunks, got ${m.commitId}")
      }
      crash.run(s, base, events, chunks, phase1Chunks, dropCommit = false,
        between = mergeBetweenPhases) { (batch, batchId) =>
        committedIds.put(batchId, LakeSink.appendBatchOcc(s, lakeDir, batch,
          writerId = "tail", dedupKey = Some(s"b$batchId")))
        crash.inject(batchId, "post-commit")
      }
    }
    require(Option(committedIds.get(chunks - 1L)).map(_.longValue)
        .contains(chunks.toLong),
      s"tail did not resume past the merge: last batch landed at " +
        s"${committedIds.get(chunks - 1L)}, expected $chunks")
    pinned(spark, base)(LakeSink.readLake(spark, lakeDir)
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"),
        sum(col("event_id")).as("id_checksum")))
  }

  /** Concurrent chunk staging (guide §2.6): fire one tiny staging write
    * per chunk — plus the `sentinel` rows, if any, as chunk `chunks` — on a
    * driver pool IMMEDIATELY. Each lands in a private `stage_<i>` dir,
    * invisible to the stream until the returned publisher moves it into
    * `streamDir` with its explicit mtime, so later phases' staging overlaps
    * the earlier phases' micro-batches instead of serializing between query
    * instances. Per-file CONTENT is identical to a sequential write (same
    * per-chunk filter + coalesce(1) plan), and arrival order is fixed by
    * the published mtimes, so replay semantics are unchanged.
    *
    * The returned function publishes chunk `i` (the sentinel as
    * `batch_zzz_sentinel`), awaiting its staging write if still in flight.
    */
  private def stagedChunkPublisher(
      withChunk: DataFrame,
      base: Path,
      streamDir: Path,
      chunks: Int,
      mtimeOf: Int => Long,
      sentinel: Option[DataFrame] = None): Int => Unit = {
    val frames = (0 until chunks).map(i =>
      withChunk.filter(col("__chunk") === i).drop("__chunk")) ++ sentinel
    val pool = java.util.concurrent.Executors.newFixedThreadPool(frames.size)
    val staged = {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      frames.zipWithIndex.map { case (df, i) =>
        scala.concurrent.Future {
          df.coalesce(1).write.parquet(base.resolve(s"stage_$i").toString)
        }
      }
    }
    pool.shutdown() // queued staging tasks still run; threads die after
    (i: Int) => {
      scala.concurrent.Await.result(staged(i),
        scala.concurrent.duration.Duration(10, "min"))
      publish(base.resolve(s"stage_$i"), streamDir,
        if (i < chunks) f"batch_$i%03d" else "batch_zzz_sentinel", mtimeOf(i))
    }
  }

  /** Move the single part file of a staged write into the stream directory
    * under a stable name with an explicit modification time — the file
    * stream source orders same-batch candidates by mod time, so ascending
    * stamps give deterministic chunk-per-micro-batch replay.
    */
  private def publish(stage: Path, streamDir: Path, name: String, modTime: Long): Unit = {
    val listing = Files.list(stage)
    val part =
      try listing.filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().orElseThrow(() => new IllegalStateException(s"no part file in $stage"))
      finally listing.close()
    val target = streamDir.resolve(s"$name.parquet")
    Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
    target.toFile.setLastModified(modTime)
    deleteRecursively(stage) // staging markers (_SUCCESS etc.) — RAM-backed
  }
}

