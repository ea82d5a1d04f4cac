package graft

import java.sql.Timestamp

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LakeFixture, LakeSink}
import graft.streaming.StatefulOps.Event

/** [[LakeSink]]: streaming append into a date-partitioned lake with
  * periodic compaction — file counts, read-back equality, batch-replay
  * idempotency, and partition-pruned reads of the written layout.
  */
class LakeSinkSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streamed lake: date-partitioned append, compaction, exact read-back") {
    import spark.implicits._
    implicit val ctx: SQLContext = spark.sqlContext
    val lake = GraftTestSpark.tmpDir("lake") + "/events_lake"
    val ckpt = GraftTestSpark.tmpDir("lake_ckpt")
    val ms = MemoryStream[Event]
    // fixture rows spanning three dates, delivered across four micro-batches
    // so the same date receives files from several batches (the small-file
    // pattern compaction exists for)
    val all = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    assert(all.length > 100, "fixture unexpectedly small")
    // compact every 2nd batch; huge target size => 1 file per partition
    val lakeSink = LakeSink.datePartitioned(
      lake, compactEvery = 2L, targetFileBytes = 1L << 30, minFilesToCompact = 2)
    val q = ms.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(lakeSink)
      .start()
    all.grouped(math.max(1, all.length / 4)).foreach { chunk =>
      ms.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()

    // layout: Hive-partitioned by event_date, and every partition the last
    // sweep saw with >= 2 files is down to 1 (batch 3 ran the final sweep)
    val root = new org.apache.hadoop.fs.Path(lake)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("event_date="))
    assert(parts.nonEmpty, "no event_date= partitions written")
    val fileCounts = parts.map(p =>
      p.getName -> fs.listStatus(p).count(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))).toMap
    assert(fileCounts.values.forall(_ >= 1))
    assert(fileCounts.values.forall(_ <= 2),
      s"compaction left small files behind: $fileCounts")

    // read-back equality: every event exactly once, with the derived
    // partition column matching to_date(ts)
    val back = spark.read.parquet(lake)
    assert(back.columns.contains("event_date"), "partition column not discovered")
    val expected = spark.createDataset(all.toIndexedSeq).toDF()
      .withColumn("event_date", to_date(col("ts")))
    assert(back.count() === all.length.toLong)
    assert(back.select("event_id", "event_date").exceptAll(
      expected.select("event_id", "event_date")).isEmpty)
    assert(expected.select("event_id", "event_date").exceptAll(
      back.select("event_id", "event_date")).isEmpty)

    // the written layout partition-prunes: a one-date filter plans only that
    // partition's files
    val oneDate = back.select(max(col("event_date"))).head.getDate(0)
    val pruned = spark.read.parquet(lake).filter(col("event_date") === lit(oneDate))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in the pruned plan"))
    assert(scan.metadata("PartitionFilters").contains("event_date"),
      s"no partition filter pushed: ${scan.metadata("PartitionFilters")}")
    val expectedOne = expected.filter(col("event_date") === lit(oneDate)).count()
    assert(pruned.count() === expectedOne)

    // idempotency: re-running an already-committed batch id is a no-op
    // (the restart-from-checkpoint replay path), while a NEW batch appends
    val sink = LakeSink.datePartitioned(lake, compactEvery = 0L)
    val replay = spark.createDataset(all.take(50).toIndexedSeq).toDF()
    sink(replay, 0L) // batch 0 committed during the stream
    assert(spark.read.parquet(lake).count() === all.length.toLong,
      "replaying a committed batch id duplicated rows")
    sink(replay, 9999L)
    assert(spark.read.parquet(lake).count() === all.length.toLong + 50,
      "a new batch id failed to append")
  }

  test("dirty-set sweep compacts only the named partitions; full sweep is the backstop") {
    import spark.implicits._
    val lake = GraftTestSpark.tmpDir("lake_dirty") + "/lake"
    // two partitions, each fragmented into 3 files by 3 separate appends
    (1 to 3).foreach { i =>
      Seq((i.toLong, ts("2024-03-01 10:00:00"), 1L, "view", 1.0),
        (100L + i, ts("2024-03-02 10:00:00"), 2L, "view", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date").mode("append").parquet(lake)
    }
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(part: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(lake, part))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    assert(files("event_date=2024-03-01") === 3 && files("event_date=2024-03-02") === 3)

    // scoped sweep: only the named leaf is rewritten — the other keeps its
    // three files (no hidden full-table enumeration compacting it anyway)
    val done = LakeSink.compactPartitions(spark, lake, 1L << 30, minFiles = 2,
      only = Some(Set("event_date=2024-03-01")))
    assert(done.map(_._1) === Seq("event_date=2024-03-01"))
    assert(files("event_date=2024-03-01") === 1)
    assert(files("event_date=2024-03-02") === 3, "undirtied partition was touched")
    // a named-but-absent partition is skipped without error
    assert(LakeSink.compactPartitions(spark, lake, 1L << 30, 2,
      Some(Set("event_date=1999-01-01"))).isEmpty)
    // the full-sweep backstop catches what the dirty set missed
    val full = LakeSink.compactPartitions(spark, lake, 1L << 30, minFiles = 2, only = None)
    assert(full.map(_._1) === Seq("event_date=2024-03-02"))
    assert(files("event_date=2024-03-02") === 1)
    assert(spark.read.parquet(lake).count() === 6)
  }

  test("interrupted compaction swap: no instant loses the partition, recovery restores it") {
    import spark.implicits._
    val lake = GraftTestSpark.tmpDir("lake_crash") + "/lake"
    (1 to 3).foreach { i =>
      Seq((i.toLong, ts("2024-04-01 10:00:00"), 1L, "view", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date").mode("append").parquet(lake)
    }
    val root = new org.apache.hadoop.fs.Path(lake)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaf = new org.apache.hadoop.fs.Path(lake, "event_date=2024-04-01")

    // simulate the worst crash instant of the swap: original renamed aside,
    // rewrite still staged in _compact_tmp, target leaf ABSENT — the state
    // the old delete-then-rename design reached with the rewrite as the
    // partition's ONLY copy (which vacuum then reaped as "orphaned")
    val old = new org.apache.hadoop.fs.Path(lake, "_compact_old/event_date=2024-04-01")
    fs.mkdirs(old.getParent)
    require(fs.rename(leaf, old))
    fs.mkdirs(new org.apache.hadoop.fs.Path(lake, "_compact_tmp/event_date=2024-04-01"))
    assert(!fs.exists(leaf))

    // vacuum (and every sweep) heals instead of reaping: the original is
    // restored, the stranded rewrite dropped, and the data reads back whole
    val (dropped, _) = LakeSink.vacuum(spark, lake,
      java.time.LocalDate.parse("2000-01-01"))
    assert(dropped.isEmpty)
    assert(fs.exists(leaf), "interrupted swap not restored")
    assert(!fs.exists(old))
    assert(spark.read.parquet(lake).count() === 3L,
      "rows lost across the interrupted swap")
    // and a subsequent real sweep completes normally on the healed leaf
    val done = LakeSink.compactPartitions(spark, lake, 1L << 30, minFiles = 2,
      only = Some(Set("event_date=2024-04-01")))
    assert(done.map(_._1) === Seq("event_date=2024-04-01"))
    assert(spark.read.parquet(lake).count() === 3L)
  }

  test("vacuum drops expired partitions, clears orphaned sweeps, bounds the ledger") {
    import spark.implicits._
    val lake = GraftTestSpark.tmpDir("lake_vac") + "/lake"
    val sink = LakeSink.datePartitioned(lake, compactEvery = 0L)
    // three dates across five batches (marker ids 0..4)
    Seq("2024-03-01", "2024-03-02", "2024-03-03").zipWithIndex.foreach { case (d, i) =>
      sink(Seq((i.toLong, ts(s"$d 10:00:00"), 1L, "view", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value"), i.toLong)
    }
    sink(Seq((10L, ts("2024-03-03 11:00:00"), 2L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"), 3L)
    sink(Seq((11L, ts("2024-03-03 12:00:00"), 2L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"), 4L)
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant a crashed-sweep orphan
    fs.mkdirs(new org.apache.hadoop.fs.Path(lake, "_compact_tmp/event_date=2024-03-01"))

    val (dropped, pruned) = LakeSink.vacuum(spark, lake,
      java.time.LocalDate.parse("2024-03-02"), ledgerKeep = 2L)
    assert(dropped === Seq("event_date=2024-03-01"))
    assert(pruned === 2, "markers 0 and 1 sit below max(4) - keep(2)")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(lake, "_compact_tmp/event_date=2024-03-01")),
      "orphaned sweep survived vacuum")
    // retained data reads back exactly; the retained marker tail still
    // dedupes a replay of the newest batch
    assert(spark.read.parquet(lake).count() === 4L)
    sink(Seq((11L, ts("2024-03-03 12:00:00"), 2L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"), 4L)
    assert(spark.read.parquet(lake).count() === 4L,
      "replay of the newest batch duplicated after ledger pruning")
  }

  test("staged-commit crash matrix: a crash at any protocol instant recovers exactly-once") {
    import spark.implicits._
    def batchDf(ids: Range) = ids.map(i =>
      (i.toLong, ts(if (i % 2 == 0) "2024-05-01 10:00:00" else "2024-05-02 10:00:00"),
        1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // every instant the faultInjector can name, including mid-commit with
    // only ONE of the two leaves renamed in (the multi-leaf torn commit)
    val points = Seq("staged", "committed:event_date=2024-05-01", "pre-marker")
    points.foreach { point =>
      val lake = GraftTestSpark.tmpDir(s"lake_cm_${point.takeWhile(_ != ':')}") + "/lake"
      val fs = new org.apache.hadoop.fs.Path(lake)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // batch 0 commits cleanly; batch 1 crashes at `point`
      val clean = LakeSink.datePartitioned(lake, compactEvery = 0L)
      clean(batchDf(0 until 10), 0L)
      val crashing = LakeSink.datePartitioned(lake, compactEvery = 0L,
        faultInjector = (bid, p) =>
          if (bid == 1L && p == point) throw new RuntimeException(s"crash at $p"))
      val thrown = intercept[RuntimeException](crashing(batchDf(10 until 20), 1L))
      assert(thrown.getMessage.contains("crash at"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(lake, "_graft_commits/1")),
        s"$point: marker must not exist after the crash")
      // whatever the crash left visible, it is never MORE than batch 1 once
      // and never corrupts batch 0
      val mid = spark.read.parquet(lake)
      assert(mid.filter(col("event_id") < 10).count() === 10L, s"$point: batch 0 damaged")
      assert(mid.filter(col("event_id") >= 10).count() <= 10L, s"$point: torn duplicate")
      // recovery: a fresh sink instance replays batch 1 (Spark's contract),
      // rolling back the crashed attempt before committing
      val recovered = LakeSink.datePartitioned(lake, compactEvery = 0L)
      recovered(batchDf(10 until 20), 1L)
      val after = spark.read.parquet(lake)
      assert(after.count() === 20L, s"$point: replay not exactly-once")
      assert(after.select("event_id").distinct().count() === 20L, s"$point: duplicate ids")
      // and a SECOND replay of the now-committed batch is a ledger no-op
      recovered(batchDf(10 until 20), 1L)
      assert(spark.read.parquet(lake).count() === 20L, s"$point: committed replay appended")
      // staging fully reclaimed by commit (or inert under its underscore
      // root until vacuum); the data path never lists it
      assert(!fs.exists(new org.apache.hadoop.fs.Path(lake, "_staging/b1")),
        s"$point: staging not cleaned after commit")
    }
  }

  test("stateful upstream: committed-batch replay and a pre-marker crash both recover the silver hop exactly-once") {
    // The st37 silver shape in miniature: watermarked window agg → LakeSink.
    // Two regressions under one oracle:
    //  (a) a crash at the sink's pre-marker instant INSIDE the stateful hop
    //      (st39 certifies this for a stateless hop only), and
    //  (b) a restart-from-checkpoint replay of an already-committed batch —
    //      the sink's marker-exists branch must still MATERIALIZE the batch
    //      so every state-store partition loads and commits; returning
    //      without an action aborts the query under Spark 4's commit
    //      validation (STATE_STORE_COMMIT_VALIDATION_FAILED — the r12 st37
    //      defect this test pins).
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("lake_stateful_")
    val streamDir = java.nio.file.Files.createDirectory(base.resolve("in"))
    val lake = base.resolve("silver").toString
    val ckpt = base.resolve("ckpt")

    def publishChunk(name: String, rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit = {
      val stage = base.resolve(s"stage_$name")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(stage.toString)
      val listing = java.nio.file.Files.list(stage)
      val part = try listing.filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().orElseThrow(() => new IllegalStateException(s"no part in $stage"))
      finally listing.close()
      java.nio.file.Files.move(part, streamDir.resolve(s"$name.parquet"))
    }
    // two 6h windows of data, then a far-future sentinel that flushes both
    publishChunk("b0", Seq((1L, ts("2024-05-01 01:00:00"), 1L, "view", 1.0),
      (2L, ts("2024-05-01 02:00:00"), 1L, "click", 2.0),
      (3L, ts("2024-05-01 05:00:00"), 2L, "view", 3.0)))
    publishChunk("b1", Seq((4L, ts("2024-05-01 07:00:00"), 1L, "view", 4.0),
      (5L, ts("2024-05-01 11:00:00"), 2L, "click", 5.0)))
    publishChunk("b2", Seq((99L, ts("2024-05-03 00:00:00"), -1L, "sentinel", 0.0)))

    val schema = Seq.empty[(Long, Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value").schema
    def run(sink: (DataFrame, Long) => Unit): Option[Throwable] = {
      val agg = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .selectExpr("window.start AS ts", "event_type", "n", "sv")
      val q = agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch(sink).trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(); None }
      catch { case e: Throwable => Some(e) }
    }

    // phase A: crash at the pre-marker instant of micro-batch 1
    val crashed = run(LakeSink.datePartitioned(lake, compactEvery = 0L,
      faultInjector = (bid, p) =>
        if (bid == 1L && p == "pre-marker") throw new RuntimeException("crash at pre-marker")))
    assert(crashed.isDefined, "pre-marker fault never fired")

    // phase B: a fresh sink replays the crashed batch and drains to the end
    assert(run(LakeSink.datePartitioned(lake, compactEvery = 0L)).isEmpty)

    // phase C: drop the engine's last commit record — the restarted run
    // replays a batch whose lake marker ALREADY exists, through the
    // stateful agg. Without the skip-branch materialization this throws
    // STATE_STORE_COMMIT_VALIDATION_FAILED.
    graft.streaming.ReplayHarness.dropLastCommitRecord(ckpt)
    val replayed = run(LakeSink.datePartitioned(lake, compactEvery = 0L))
    assert(replayed.isEmpty,
      s"committed-batch replay broke the stateful hop: ${replayed.map(_.getMessage)}")

    // oracle: the flushed windows, exactly once, sentinel excluded
    val got = spark.read.parquet(lake)
      .filter(col("event_type") =!= "sentinel")
      .select(col("ts").cast("string"), col("event_type"), col("n"), col("sv"))
      .collect().map(_.toString).sorted.toSeq
    val want = Seq(
      "[2024-05-01 00:00:00,click,1,2.0]",
      "[2024-05-01 00:00:00,view,2,4.0]",
      "[2024-05-01 06:00:00,click,1,5.0]",
      "[2024-05-01 06:00:00,view,1,4.0]")
    assert(got === want, s"silver lake content diverged: $got")
  }

  test("live compaction re-delivery: bare tail double-counts, hardened tail stays exactly-once") {
    // st40's mechanism in miniature, WITH the negative control the full
    // composite can't show: compacting a tailed leaf re-delivers all of
    // its rows to a path-tracking file source. A bare windowed agg counts
    // them twice; dropDuplicatesWithinWatermark + the watermark's late
    // filter shed them exactly.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    def runVariant(hardened: Boolean): Seq[String] = {
      val base = java.nio.file.Files.createTempDirectory(s"lake_live_$hardened")
      val lake = base.resolve("bronze").toString
      val ckpt = base.resolve("ckpt").toString
      // one leaf, fragmented by two appends — all rows in the 00:00 window
      Seq((1L, ts("2024-05-01 01:00:00"), 1L, "view", 1.0),
        (2L, ts("2024-05-01 02:00:00"), 1L, "click", 2.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date").mode("append").parquet(lake)
      Seq((3L, ts("2024-05-01 03:00:00"), 2L, "view", 3.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date").mode("append").parquet(lake)

      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val schema = spark.read.parquet(lake).schema
      def drain(): Unit = {
        val in = spark.readStream.schema(schema)
          .option("maxFileAge", "100000d").parquet(lake)
        val wm = in.withWatermark("ts", "1 hour")
        val src = if (hardened) wm.dropDuplicatesWithinWatermark("event_id") else wm
        val q = src.groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .selectExpr("CAST(window.start AS STRING) AS ws", "event_type", "n")
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) =>
            out.synchronized { out ++= b.collect().map(_.toString) }; ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain() // window still open (watermark 1h behind its 06:00 end)
      val swept = LakeSink.compactPartitions(spark, lake, 1L << 30, minFiles = 2)
      assert(swept.map(_._1) === Seq("event_date=2024-05-01"), "sweep did not rewrite the tailed leaf")
      // sentinel leaf advances the watermark past the real window's end
      Seq((99L, ts("2024-05-03 00:00:00"), -1L, "sentinel", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date").mode("append").parquet(lake)
      drain() // re-lists the rewritten leaf: 3 re-delivered rows + sentinel
      out.filterNot(_.contains("sentinel")).sorted.toSeq
    }
    val bare = runVariant(hardened = false)
    val hard = runVariant(hardened = true)
    val exact = Seq("[2024-05-01 00:00:00,click,1]", "[2024-05-01 00:00:00,view,2]")
    assert(hard === exact, s"hardened tail diverged: $hard")
    assert(bare !== exact,
      "bare tail unexpectedly survived the rewrite — the negative control " +
        s"lost its teeth (got $bare); did FileStreamSource learn manifests?")
    assert(bare.exists(_.contains("view,4")) || bare.exists(_.contains("click,2")),
      s"bare tail expected to double-count the re-delivered leaf, got $bare")
  }

  test("parallel sweep rewrites every leaf exactly like the serial sweep") {
    import spark.implicits._
    // two identical 6-leaf fragmented lakes: one swept serially, one with
    // the bounded pool — results (rows, per-leaf file counts, return value)
    // must be indistinguishable
    def mkLake(tag: String): String = {
      val lake = GraftTestSpark.tmpDir(s"lake_par_$tag") + "/lake"
      (0 until 3).foreach { rep =>
        (1 to 6).foreach { d =>
          Seq((rep * 10L + d, ts(f"2024-07-0$d 10:00:00"), 1L, "view", 1.0))
            .toDF("event_id", "ts", "user_id", "event_type", "value")
            .withColumn("event_date", to_date(col("ts")))
            .write.partitionBy("event_date").mode("append").parquet(lake)
        }
      }
      lake
    }
    val (serialLake, parLake) = (mkLake("s"), mkLake("p"))
    val serial = LakeSink.compactPartitions(spark, serialLake, 1L << 30,
      minFiles = 2, only = None, maxConcurrency = 1)
    val par = LakeSink.compactPartitions(spark, parLake, 1L << 30,
      minFiles = 2, only = None, maxConcurrency = 4)
    assert(par === serial, "parallel sweep's (leaf, before, after) diverged from serial")
    assert(par.size === 6 && par.forall { case (_, b, a) => b === 3 && a === 1 })
    val (s, p) = (spark.read.parquet(serialLake), spark.read.parquet(parLake))
    assert(p.count() === 18L && s.count() === 18L)
    assert(p.exceptAll(s).isEmpty && s.exceptAll(p).isEmpty,
      "parallel sweep changed row content")
  }

  test("reader racing compaction swaps: no duplicates, no torn leaf — only whole-leaf absence or a loud error") {
    import spark.implicits._
    // 6 leaves, ids known per leaf; minFiles=1 makes every sweep re-rewrite
    // every leaf (1 file -> 1 file) WITHOUT changing data, so a tight read
    // loop races many swap windows against one constant expected set
    val lake = GraftTestSpark.tmpDir("lake_reader") + "/lake"
    (0 until 3).foreach { rep =>
      (1 to 6).foreach { d =>
        Seq((rep * 10L + d, ts(f"2024-08-0$d 10:00:00"), 1L, "view", 1.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
          .withColumn("event_date", to_date(col("ts")))
          .write.partitionBy("event_date").mode("append").parquet(lake)
      }
    }
    val leafIds: Map[Int, Set[Long]] =
      (1 to 6).map(d => d -> Set(d.toLong, 10L + d, 20L + d)).toMap
    val expected = leafIds.values.flatten.toSet

    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    @volatile var silentCorruption: Option[String] = None
    val reader = new Thread(() => {
      while (!stop && silentCorruption.isEmpty) {
        try {
          val ids = spark.read.parquet(lake).select("event_id")
            .collect().map(_.getLong(0)).toSeq
          val set = ids.toSet
          if (ids.size != set.size)
            silentCorruption = Some(s"duplicate rows observed: ${ids.size} rows, ${set.size} ids")
          else if (!set.subsetOf(expected))
            silentCorruption = Some(s"alien ids observed: ${set -- expected}")
          else {
            val missingLeaves = leafIds.filter { case (_, lids) => (lids -- set).nonEmpty }
            // a PARTIALLY missing leaf = torn read; whole-leaf absence is
            // the documented swap-window anomaly
            missingLeaves.find { case (_, lids) => (lids & set).nonEmpty } match {
              case Some((d, _)) =>
                silentCorruption = Some(s"torn leaf $d: some of its rows visible, some not")
              case None =>
                outcomes.add(if (missingLeaves.isEmpty) "full"
                  else s"absent:${missingLeaves.keys.toSeq.sorted.mkString(",")}")
            }
          }
        } catch {
          // a listing/scan race (file renamed between list and open) fails
          // LOUDLY — acceptable: the reader retries; it never sees wrong data
          case _: Throwable => outcomes.add("error")
        }
      }
    })
    reader.start()
    (0 until 12).foreach { _ =>
      val done = LakeSink.compactPartitions(spark, lake, 1L << 30,
        minFiles = 1, only = None, maxConcurrency = 4)
      assert(done.size === 6)
    }
    stop = true
    reader.join(30000)
    assert(silentCorruption.isEmpty, silentCorruption.getOrElse(""))
    val census = outcomes.toArray.groupBy(identity).map { case (k, v) => (k, v.length) }
    System.err.println(s"[lake] reader-race census over 72 swaps: $census")
    assert(outcomes.size > 0, "reader never completed a snapshot — race harness broken")
    // final state: intact
    assert(spark.read.parquet(lake).select("event_id").collect()
      .map(_.getLong(0)).toSet === expected)
  }

  test("vacuum reclaims a committed-but-uncleaned staging tree, leaves in-flight staging alone") {
    import spark.implicits._
    val lake = GraftTestSpark.tmpDir("lake_stage_vac") + "/lake"
    val sink = LakeSink.datePartitioned(lake, compactEvery = 0L)
    sink(Seq((1L, ts("2024-06-01 10:00:00"), 1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"), 0L)
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate: batch 0's marker landed but its staging cleanup crashed;
    // batch 7 is in-flight (staged, no marker — the engine will replay it)
    fs.mkdirs(new org.apache.hadoop.fs.Path(lake, "_staging/b0/event_date=2024-06-01"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(lake, "_staging/b7/event_date=2024-06-02"))
    LakeSink.vacuum(spark, lake, java.time.LocalDate.parse("2000-01-01"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(lake, "_staging/b0")),
      "committed staging leftover survived vacuum")
    assert(fs.exists(new org.apache.hadoop.fs.Path(lake, "_staging/b7")),
      "in-flight staging reaped — its replay would have healed it, vacuum must not race it")
    assert(spark.read.parquet(lake).count() === 1L)
  }

  test("writer fence: a zombie instance is fenced out once a successor claims the lake") {
    import spark.implicits._
    def batchDf(ids: Range) = ids.map(i =>
      (i.toLong, ts(if (i % 2 == 0) "2024-09-01 10:00:00" else "2024-09-02 10:00:00"),
        1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val lake = GraftTestSpark.tmpDir("lake_fence") + "/lake"
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    val zombie = LakeSink.datePartitioned(lake, compactEvery = 0L)
    zombie(batchDf(0 until 10), 0L)
    zombie(batchDf(10 until 20), 1L)
    // failover: a successor instance claims the lake with its first batch
    val live = LakeSink.datePartitioned(lake, compactEvery = 0L)
    live(batchDf(20 until 30), 2L)
    val censusBefore = spark.read.parquet(lake).select("event_id")
      .collect().map(_.getLong(0)).toSet

    // the zombie wakes up: replaying its already-committed batch AND
    // attempting a new one must both fail LOUDLY, touching nothing —
    // before the fence this interleaved staged commits undetected
    val replayErr = intercept[IllegalStateException](zombie(batchDf(10 until 20), 1L))
    assert(replayErr.getMessage.contains("fenced"), replayErr.getMessage)
    val newErr = intercept[IllegalStateException](zombie(batchDf(30 until 40), 3L))
    assert(newErr.getMessage.contains("fenced"), newErr.getMessage)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(lake, "_graft_commits/3")),
      "zombie wrote a commit marker")
    val censusAfter = spark.read.parquet(lake).select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(censusAfter === censusBefore, "zombie mutated the lake before failing")
    assert(spark.read.parquet(lake)
      .withColumn("f", input_file_name())
      .filter(col("f").contains("gb3-")).isEmpty,
      "zombie's batch-3 files reached a leaf")

    // the live writer is unharmed and continues
    live(batchDf(30 until 40), 3L)
    assert(spark.read.parquet(lake).count() === 40L)
    // vacuum keeps only the top epoch token
    LakeSink.vacuum(spark, lake, java.time.LocalDate.parse("2000-01-01"))
    val epochs = fs.listStatus(new org.apache.hadoop.fs.Path(lake, "_graft_writer"))
      .map(_.getPath.getName).sorted.toSeq
    assert(epochs === Seq("2"), s"epoch ledger not pruned to the max: $epochs")
  }

  test("durable dirty set: a sweep after restart still scopes to leaves dirtied before the kill") {
    import spark.implicits._
    // one part per leaf per batch, so leaf file counts are exact below
    def rows(date: String, ids: Range) = ids.map(i =>
      (i.toLong, ts(s"$date 10:00:00"), 1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value").coalesce(1)
    val lake = GraftTestSpark.tmpDir("lake_durable") + "/lake"
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leafFiles(d: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(lake, s"event_date=$d"))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getModificationTime)).sorted.toSeq

    // instance 1: three batches across leaves A+B, sweep at batch 2
    // (compactEvery=3) — horizon persisted, dirty set cleared
    val s1 = LakeSink.datePartitioned(lake, compactEvery = 3L,
      targetFileBytes = 1L << 30, minFilesToCompact = 2)
    (0 to 2).foreach { b =>
      s1(rows("2024-10-01", b * 10 until b * 10 + 5)
        .union(rows("2024-10-02", b * 10 + 5 until b * 10 + 10)), b.toLong)
    }
    assert(leafFiles("2024-10-01").size === 1 && leafFiles("2024-10-02").size === 1)
    // then two more batches fragmenting ONLY leaf A; the driver dies
    // before the next sweep (the in-memory dirty set is lost)
    s1(rows("2024-10-01", 30 until 35), 3L)
    s1(rows("2024-10-01", 35 until 40), 4L)
    assert(leafFiles("2024-10-01").size === 3)
    val leafBBefore = leafFiles("2024-10-02")

    // instance 2 (restart): its batch touches only leaf C, and its sweep
    // (batch 5 % 3 == 2) must still compact A — scoped via the dirty set
    // REBUILT from markers 3 and 4 above the persisted horizon 2. Without
    // the rebuild the sweep would scope to {C} and leave A fragmented.
    val s2 = LakeSink.datePartitioned(lake, compactEvery = 3L,
      targetFileBytes = 1L << 30, minFilesToCompact = 2)
    s2(rows("2024-10-03", 40 until 45), 5L)
    assert(leafFiles("2024-10-01").size === 1,
      "pre-kill dirtied leaf not compacted after restart — dirty set not durable")
    assert(leafFiles("2024-10-02") === leafBBefore,
      "leaf undirtied since the last sweep was rewritten — scope too wide")
    assert(spark.read.parquet(lake).count() === 45L)
  }

  test("time travel: exact snapshots survive compaction via history; vacuum bounds the window") {
    import spark.implicits._
    def rows(ids: Range) = ids.map(i =>
      (i.toLong, ts(if (i % 2 == 0) "2024-11-01 10:00:00" else "2024-11-02 10:00:00"),
        1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val lake = GraftTestSpark.tmpDir("lake_asof") + "/lake"
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id").collect().map(_.getLong(0)).toSet

    // compactEvery=2 → sweeps after batches 1 and 3
    val sink = LakeSink.datePartitioned(lake, compactEvery = 2L,
      targetFileBytes = 1L << 30, minFilesToCompact = 2)
    sink(rows(0 until 10), 0L)
    sink(rows(10 until 20), 1L) // sweep: leaves rewritten to gc1, originals → history gen 1
    sink(rows(20 until 30), 2L) // gb2 appends on top

    // snapshots: asOf 2 = everything; asOf 1 = the compacted prefix
    // (served entirely from the gc1 rewrite); asOf 0 PREDATES the sweep
    // horizon and must be served from the retained pre-sweep generation
    assert(ids(LakeSink.readAsOf(spark, lake, 2L)) === (0L until 30L).toSet)
    assert(ids(LakeSink.readAsOf(spark, lake, 1L)) === (0L until 20L).toSet)
    assert(ids(LakeSink.readAsOf(spark, lake, 0L)) === (0L until 10L).toSet,
      "pre-horizon snapshot not served from history")
    // the partition column survives the listing-filtered read — including
    // for history paths (the event_date= leaf name is preserved there)
    assert(LakeSink.readAsOf(spark, lake, 0L).columns.contains("event_date"))
    assert(LakeSink.readAsOf(spark, lake, 0L)
      .filter(col("event_date") =!= to_date(col("ts"))).isEmpty)

    // a later sweep stores a second generation; every snapshot stays exact
    // (asOf 2 now resolves from generation 3 = gc1 + gb2 + gb3, minus gb3)
    sink(rows(30 until 40), 3L) // sweep at 3: leaves rewritten to gc3
    assert(ids(LakeSink.readAsOf(spark, lake, 3L)) === (0L until 40L).toSet)
    assert(ids(LakeSink.readAsOf(spark, lake, 2L)) === (0L until 30L).toSet)
    assert(ids(LakeSink.readAsOf(spark, lake, 0L)) === (0L until 10L).toSet)

    // vacuum prunes generations below max marker - ledgerKeep: gen 1 falls
    // (horizon 1 < 3 - 1), gen 3 stays — asOf 2 survives, asOf 0 is now
    // genuinely lost and must say so rather than approximate
    LakeSink.vacuum(spark, lake, java.time.LocalDate.parse("2000-01-01"),
      ledgerKeep = 1L)
    assert(ids(LakeSink.readAsOf(spark, lake, 2L)) === (0L until 30L).toSet,
      "retained generation lost by vacuum")
    val lost = intercept[IllegalStateException](LakeSink.readAsOf(spark, lake, 0L))
    assert(lost.getMessage.contains("vacuumed"), lost.getMessage)
    // and the LIVE read path never sees history or staging
    assert(ids(spark.read.parquet(lake)) === (0L until 40L).toSet)
  }

  test("snapshot read during an in-flight sweep is read-only: exact data, writer's pending swap still succeeds") {
    import spark.implicits._
    def rows(ids: Range) = ids.map(i =>
      (i.toLong, ts(if (i % 2 == 0) "2024-11-01 10:00:00" else "2024-11-02 10:00:00"),
        1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id").collect().map(_.getLong(0)).toSet
    val lake = GraftTestSpark.tmpDir("lake_asof_race") + "/lake"
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // compactEvery=2 → one completed sweep at batch 1 (gc1 + history gen 1),
    // then gb2 appends on top
    val sink = LakeSink.datePartitioned(lake, compactEvery = 2L,
      targetFileBytes = 1L << 30, minFilesToCompact = 2)
    sink(rows(0 until 10), 0L)
    sink(rows(10 until 20), 1L)
    sink(rows(20 until 30), 2L)

    // drive the NEXT sweep (horizon 2) of the even-id leaf BY HAND into the
    // instant between its two renames: rewrite staged+stamped in
    // _compact_tmp, original renamed into history, leaf ABSENT — exactly
    // where a live writer sits mid-compactOne
    val leafName = "event_date=2024-11-01"
    val leaf = new org.apache.hadoop.fs.Path(lake, leafName)
    val tmp = new org.apache.hadoop.fs.Path(lake, s"_compact_tmp/$leafName")
    graft.core.Layout.compactParquet(spark, leaf.toString, tmp.toString, 1L << 30)
    fs.listStatus(tmp).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName.toString).zipWithIndex.foreach { case (f, i) =>
        require(fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(tmp, s"gc2-p$i.snappy.parquet")))
      }
    val hist = new org.apache.hadoop.fs.Path(lake, s"_graft_history/2/$leafName")
    fs.mkdirs(hist.getParent)
    require(fs.rename(leaf, hist))
    assert(!fs.exists(leaf))
    val tmpFilesBefore = fs.listStatus(tmp).map(_.getPath.getName).sorted.toSeq

    // snapshots at every depth stay exact: asOf 2 serves the absent leaf
    // from its in-flight rewrite, asOf 1/0 from the retained generations
    assert(ids(LakeSink.readAsOf(spark, lake, 2L)) === (0L until 30L).toSet)
    assert(ids(LakeSink.readAsOf(spark, lake, 1L)) === (0L until 20L).toSet)
    assert(ids(LakeSink.readAsOf(spark, lake, 0L)) === (0L until 10L).toSet)
    assert(LakeSink.readAsOf(spark, lake, 2L)
      .filter(col("event_date") =!= to_date(col("ts"))).isEmpty,
      "partition column lost for the tmp-served leaf")

    // the reads mutated NOTHING: leaf still absent, rewrite still staged
    // untouched, history generation still in place
    assert(!fs.exists(leaf), "snapshot read re-materialized the mid-swap leaf")
    assert(fs.listStatus(tmp).map(_.getPath.getName).sorted.toSeq === tmpFilesBefore,
      "snapshot read touched the writer's staged rewrite")
    assert(fs.exists(hist))
    // ... so the writer's own pending rename completes exactly as it would
    // have — the failure mode this pins is a reader "promoting" the rewrite
    // and failing this require inside the live writer
    require(fs.rename(tmp, leaf), "writer's swap rename failed after a concurrent snapshot read")
    assert(ids(spark.read.parquet(lake)) === (0L until 30L).toSet)
    assert(ids(LakeSink.readAsOf(spark, lake, 2L)) === (0L until 30L).toSet)
  }

  test("commit exchange: two writers racing one batch cannot both commit it") {
    import spark.implicits._
    def batchDf(ids: Range) = ids.map(i =>
      (i.toLong, ts(if (i % 2 == 0) "2024-12-01 10:00:00" else "2024-12-02 10:00:00"),
        1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val lake = GraftTestSpark.tmpDir("lake_exchange") + "/lake"
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // writer A passes its LAST fence validation for batch 1, then — inside
    // the exact check-then-act window the fence cannot see — writer B
    // claims the lake and commits the same batch first
    var raced = false
    val a = LakeSink.datePartitioned(lake, compactEvery = 0L,
      faultInjector = (bid, p) => if (bid == 1L && p == "pre-marker" && !raced) {
        raced = true
        val b = LakeSink.datePartitioned(lake, compactEvery = 0L)
        b(batchDf(10 until 20), 1L)
      })
    a(batchDf(0 until 10), 0L)
    val err = intercept[IllegalStateException](a(batchDf(10 until 20), 1L))
    assert(err.getMessage.contains("commit exchange lost"), err.getMessage)

    // exactly ONE commit of batch 1 survives: 20 distinct rows (A and B
    // staged identical content under identical names — deterministic
    // replay — so whoever's files sit in the leaves, the data is single)
    val got = spark.read.parquet(lake)
    assert(got.count() === 20L)
    assert(got.select("event_id").distinct().count() === 20L)
    // and the single marker is COMPLETE (sentinel-terminated leaf list)
    val marker = new org.apache.hadoop.fs.Path(lake, "_graft_commits/1")
    val in = fs.open(marker)
    val content = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    assert(content.linesIterator.toSeq.last === "#end", s"marker content torn: $content")
    assert(content.contains("event_date=2024-12-01") && content.contains("event_date=2024-12-02"))
  }

  test("a zombie paused mid-sweep is fenced before the swap: the successor's commits survive") {
    import spark.implicits._
    // single-leaf lake so the sweep's per-leaf fence check is deterministic
    def batchDf(ids: Range) = ids.map(i =>
      (i.toLong, ts("2025-01-01 10:00:00"), 1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val lake = GraftTestSpark.tmpDir("lake_sweep_fence") + "/lake"
    val zombieSink = LakeSink.datePartitioned(lake, compactEvery = 0L)
    zombieSink(batchDf(0 until 10), 0L) // zombie holds epoch 1

    // the zombie starts a sweep (epoch 1) and PAUSES after the rewrite job
    // — the long window the entry-only fence check used to leave open.
    // While paused, a successor claims the lake and commits batch 1.
    var successorRan = false
    val err = intercept[IllegalStateException] {
      LakeSink.compactPartitions(spark, lake, 1L << 30, minFiles = 1,
        fenceEpoch = Some(1L),
        sweepHook = _ => if (!successorRan) {
          successorRan = true
          val succ = LakeSink.datePartitioned(lake, compactEvery = 0L)
          succ(batchDf(10 until 20), 1L)
        })
    }
    assert(successorRan, "race hook never fired")
    assert(err.getMessage.contains("fenced"), err.getMessage)

    // the stale rewrite (staged BEFORE batch 1 existed) was NOT swapped in:
    // the successor's rows are still live — the silent-vanish this pins
    assert(spark.read.parquet(lake).count() === 20L,
      "zombie's stale-horizon rewrite replaced the successor's commits")
    // maintenance under a freshly CLAIMED epoch heals the orphan and sweeps
    val e = LakeSink.claimWriterEpoch(spark, lake)
    val done = LakeSink.compactPartitions(spark, lake, 1L << 30, minFiles = 2,
      fenceEpoch = Some(e))
    assert(done.map(_._1) === Seq("event_date=2025-01-01"))
    assert(spark.read.parquet(lake).count() === 20L)
    assert(spark.read.parquet(lake).select("event_id").distinct().count() === 20L)
  }

  test("a torn commit marker over-approximates the rebuilt dirty set instead of under-sweeping") {
    import spark.implicits._
    def rows(date: String, ids: Range) = ids.map(i =>
      (i.toLong, ts(s"$date 10:00:00"), 1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value").coalesce(1)
    val lake = GraftTestSpark.tmpDir("lake_torn_marker") + "/lake"
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leafFiles(d: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(lake, s"event_date=$d"))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))

    // instance 1 fragments leaf A across batches 0 and 1, then dies before
    // any sweep; both markers are then TORN (content write crashed after
    // the atomic create — simulated by truncating below the sentinel)
    val s1 = LakeSink.datePartitioned(lake, compactEvery = 3L,
      targetFileBytes = 1L << 30, minFilesToCompact = 2)
    s1(rows("2025-02-01", 0 until 5), 0L)
    s1(rows("2025-02-01", 5 until 10), 1L)
    Seq("0", "1").foreach { id =>
      val m = new org.apache.hadoop.fs.Path(lake, s"_graft_commits/$id")
      val out = fs.create(m, true)
      try out.write("event_date=2025-02-0".getBytes("UTF-8")) finally out.close()
    }

    // instance 2 touches only leaf B; its sweep (batch 2 % 3 == 2) cannot
    // know which leaves the torn markers named — it must over-sweep (leaf A
    // gets compacted), never under-sweep (leave A fragmented forever)
    val s2 = LakeSink.datePartitioned(lake, compactEvery = 3L,
      targetFileBytes = 1L << 30, minFilesToCompact = 2)
    s2(rows("2025-02-02", 10 until 15), 2L)
    assert(leafFiles("2025-02-01") === 1,
      "leaf named only by torn markers was never swept — dirty set under-approximated")
    assert(spark.read.parquet(lake).count() === 15L)
  }

  test("stateful-upstream detector: true through a window agg, false for a stateless tail") {
    // the committed-batch replay branch materializes ONLY stateful batches
    // (stateless replays skip the full re-read) — the decision is observed
    // here inside real foreachBatch invocations of both shapes
    import spark.implicits._
    implicit val ctx: SQLContext = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    var seen = Map.empty[String, Boolean]
    def runOnce(tag: String, shape: DataFrame => DataFrame, mode: String): Unit = {
      val ms = MemoryStream[Event]
      val q = shape(ms.toDF()).writeStream.outputMode(mode)
        .option("checkpointLocation", GraftTestSpark.tmpDir(s"detector_$tag"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          seen = seen + (tag -> graft.streaming.LakeSink.hasStatefulOperator(b))
          // consume: the stateful shape must commit its stores regardless
          b.write.format("noop").mode("overwrite").save()
        }.start()
      ms.addData(Event(1L, ts("2024-03-01 10:00:00"), 1L, "view", 1.0))
      q.processAllAvailable(); q.stop()
    }
    runOnce("stateless", df => df.select("event_id", "ts", "value"), "append")
    runOnce("stateful", df => df.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours")).agg(count(lit(1)).as("n")), "update")
    assert(seen("stateless") === false,
      "stateless batch misdetected as stateful — replay would pay the full re-read")
    assert(seen("stateful") === true,
      "stateful batch misdetected as stateless — replay would abort on state-commit validation")
  }

  test("fenced vacuum: a stale epoch cannot mutate the lake") {
    import spark.implicits._
    val lake = GraftTestSpark.tmpDir("lake_vac_fence") + "/lake"
    val sink = LakeSink.datePartitioned(lake, compactEvery = 0L)
    sink(Seq((1L, ts("2020-01-01 10:00:00"), 1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"), 0L) // epoch 1
    val stale = LakeSink.claimWriterEpoch(spark, lake) // epoch 2 (maintenance)
    val fresh = LakeSink.claimWriterEpoch(spark, lake) // epoch 3 supersedes it
    val err = intercept[IllegalStateException] {
      LakeSink.vacuum(spark, lake, java.time.LocalDate.parse("2024-01-01"),
        fenceEpoch = Some(stale))
    }
    assert(err.getMessage.contains("fenced"), err.getMessage)
    assert(spark.read.parquet(lake).count() === 1L,
      "fenced vacuum still dropped the expired partition")
    // the live claimant's vacuum proceeds
    val (dropped, _) = LakeSink.vacuum(spark, lake,
      java.time.LocalDate.parse("2024-01-01"), fenceEpoch = Some(fresh))
    assert(dropped === Seq("event_date=2020-01-01"))
  }

  test("tailCommits: exact per-range reads across sweeps; vacuum bounds markers and generations loudly") {
    import spark.implicits._
    def rows(ids: Range) = ids.map(i =>
      (i.toLong, ts(if (i % 2 == 0) "2025-03-01 10:00:00" else "2025-03-02 10:00:00"),
        1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val lake = GraftTestSpark.tmpDir("lake_tail") + "/lake"
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id").collect().map(_.getLong(0)).toSet

    // compactEvery=2 → sweeps at batches 1 and 3: gb0/gb1 live in gen 1,
    // gb2/gb3 in gen 3, gb4 still live — every serving location exercised
    val sink = LakeSink.datePartitioned(lake, compactEvery = 2L,
      targetFileBytes = 1L << 30, minFilesToCompact = 2)
    (0 until 5).foreach(b => sink(rows(b * 10 until b * 10 + 10), b.toLong))

    assert(ids(LakeSink.tailCommits(spark, lake, -1L, 4L)) === (0L until 50L).toSet)
    assert(ids(LakeSink.tailCommits(spark, lake, 1L, 3L)) === (20L until 40L).toSet,
      "mid-range batches not served from their retaining generation")
    assert(ids(LakeSink.tailCommits(spark, lake, 3L, 4L)) === (40L until 50L).toSet)
    assert(ids(LakeSink.tailCommits(spark, lake, 0L, 1L)) === (10L until 20L).toSet)
    // the partition column survives the per-mount reads
    assert(LakeSink.tailCommits(spark, lake, 1L, 3L)
      .filter(col("event_date") =!= to_date(col("ts"))).isEmpty)

    // vacuum(ledgerKeep=1): markers 0-2 pruned, generation 1 pruned
    // (horizon 1 < 4-1), generation 3 retained — pruned ranges fail
    // LOUDLY, retained ranges keep serving
    LakeSink.vacuum(spark, lake, java.time.LocalDate.parse("2000-01-01"),
      ledgerKeep = 1L)
    val lostMarker = intercept[IllegalArgumentException](
      LakeSink.tailCommits(spark, lake, 1L, 2L))
    assert(lostMarker.getMessage.contains("pruned"), lostMarker.getMessage)
    assert(ids(LakeSink.tailCommits(spark, lake, 2L, 4L)) === (30L until 50L).toSet,
      "retained range lost after vacuum")
    // a batch whose marker survives but whose retaining generation is gone
    // (hand-cleaned or deeper-vacuumed history) must also say so loudly
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(lake, "_graft_history/3"), true)
    val lostGen = intercept[IllegalStateException](
      LakeSink.tailCommits(spark, lake, 2L, 3L))
    assert(lostGen.getMessage.contains("vacuumed"), lostGen.getMessage)
    // batches past every horizon still serve from the live leaves
    assert(ids(LakeSink.tailCommits(spark, lake, 3L, 4L)) === (40L until 50L).toSet)
  }

  test("replayEventsToLake: engine recovery replays the uncommitted batch, lake stays exactly-once") {
    // the st32 harness at suite scale: phase 1 drains 2 of 4 chunks, the
    // harness drops the engine's last commit record, and recovery MUST
    // re-invoke the sink with that batchId (the harness requires it) — the
    // ledger alone keeps the replay from double-appending. Exactly-once is
    // asserted as row-for-row equality with the batch fixture.
    val lake = graft.streaming.ReplayHarness.replayEventsToLake(
      spark, GraftTestSpark.sf, chunks = 4, phase1Chunks = 2)(
      _.select("event_id", "ts", "user_id", "event_type", "value"))
    val events = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
    assert(lake.count() === events.count(),
      "lake row count drifted from the fixture — replay duplicated or dropped rows")
    assert(lake.select("event_id").exceptAll(events.select("event_id")).isEmpty &&
      events.select("event_id").exceptAll(lake.select("event_id")).isEmpty,
      "lake ids are not exactly the fixture ids")
    assert(lake.filter(col("event_date") =!= to_date(col("ts"))).isEmpty,
      "partition value disagrees with to_date(ts)")

    // value level: the st32 census, passed as `finish` and pinned by the
    // harness, equals the same census of the raw fixture per
    // (event_date, event_type) — counts and id checksums exactly, value
    // totals to the cent
    def cells(census: org.apache.spark.sql.DataFrame) =
      census.withColumn("event_date", col("event_date").cast("string")).collect()
        .map(r => (r.getAs[String]("event_date"), r.getAs[String]("event_type")) ->
          ((r.getAs[Long]("n"), r.getAs[Long]("id_checksum")), r.getAs[Double]("total_value")))
        .toMap
    val got = cells(graft.streaming.ReplayHarness.replayEventsToLake(
      spark, GraftTestSpark.sf, chunks = 4, phase1Chunks = 2,
      finish = LakeFixture.census(_, col("event_date"), col("event_type")))(
      _.select("event_id", "ts", "user_id", "event_type", "value")))
    val want = cells(LakeFixture.census(
      events.withColumn("event_date", to_date(col("ts"))),
      col("event_date"), col("event_type")))
    assert(got.keySet === want.keySet, "census cells differ from the fixture's")
    want.foreach { case (cell, ((n, checksum), total)) =>
      assert(got(cell)._1 === ((n, checksum)), s"count or id checksum drifted in $cell")
      assert(math.abs(got(cell)._2 - total) <= 0.01, s"value total drifted in $cell")
    }
  }
}
