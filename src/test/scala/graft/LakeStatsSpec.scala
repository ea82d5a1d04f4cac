package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LakeSink
import graft.streaming.StatefulOps.Event

/** [[LakeSink.readPruned]] + the `statsCols` zone maps: file-level
  * data skipping recorded at commit/compaction/merge time, advisory by
  * construction (missing stats mean scan, never wrong results), folded by
  * vacuum.
  */
class LakeStatsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Four appends of CONTIGUOUS id ranges (10 ids each) over two dates —
    * the ingest-clustered shape zone maps prune best.
    */
  private def layDown(lake: String): Unit = {
    import spark.implicits._
    def ev(id: Long) = Event(id,
      ts(s"2024-03-0${1 + (id % 2)} 10:00:${10 + id % 40}"),
      100 + id, if (id % 3 == 0) "click" else "view", id.toDouble)
    (0 until 4).foreach { b =>
      val rows = ((b * 10) until (b * 10 + 10)).map(i => ev(i.toLong))
      LakeSink.appendBatch(spark, lake, rows.toDF().coalesce(1),
        commitId = Some(b.toLong), statsCols = Seq("event_id", "value"))
    }
  }

  private def idSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("event_id").collect().map(_.getLong(0)).toSet

  test("pruned read: zone maps skip files, result identical to scan+filter") {
    val lake = GraftTestSpark.tmpDir("lake_stats") + "/t"
    layDown(lake)
    val (df, report) = LakeSink.readPruned(spark, lake, "event_id", 5, 14)
    assert(idSet(df) == (5L to 14L).toSet)
    // ids 5-14 live in batches 0 and 1 only; each batch wrote 2 leaves ->
    // 4 of the 8 files survive
    assert(report.totalFiles == 8 && report.scannedFiles == 4,
      s"expected 4/8 files scanned, got $report")
    // the residual row predicate is typed to the column and pushed down
    val scan = df.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in the pruned plan"))
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(event_id,5)") &&
      pushed.contains("LessThanOrEqual(event_id,14)"),
      s"residual predicate not pushed: $pushed")
  }

  test("pruned read on a second stats column; disjoint range plans no scan") {
    val lake = GraftTestSpark.tmpDir("lake_stats2") + "/t"
    layDown(lake)
    val (df, report) = LakeSink.readPruned(spark, lake, "value", 35, 99)
    assert(idSet(df) == (35L to 39L).toSet)
    assert(report.scannedFiles == 2, s"expected batch 3's two files: $report")

    val (empty, r0) = LakeSink.readPruned(spark, lake, "event_id", 1000, 2000)
    assert(r0.scannedFiles == 0 && empty.isEmpty)
    assert(!empty.queryExecution.executedPlan.toString.contains("FileSourceScan"),
      "an all-pruned read must not plan a file scan")
  }

  test("missing/torn stats over-approximate to scanning, never to pruning") {
    val lake = GraftTestSpark.tmpDir("lake_stats_miss") + "/t"
    layDown(lake)
    val root = new org.apache.hadoop.fs.Path(lake)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // kill batch 2's sidecar and tear batch 3's (truncate the sentinel off)
    fs.delete(new org.apache.hadoop.fs.Path(lake, "_graft_stats/2"), false)
    val p3 = new org.apache.hadoop.fs.Path(lake, "_graft_stats/3")
    val torn = {
      val in = fs.open(p3)
      val buf = new java.io.ByteArrayOutputStream()
      try {
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      } finally in.close()
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.toSeq.dropRight(1).mkString("\n")
    }
    val out = fs.create(p3, true)
    try out.write(torn.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()

    val (df, report) = LakeSink.readPruned(spark, lake, "event_id", 5, 14)
    assert(idSet(df) == (5L to 14L).toSet, "correctness must not depend on stats")
    // batches 2 and 3 lost their maps -> their 4 files scan unconditionally
    // on top of batches 0/1's 4 genuinely-overlapping files
    assert(report.scannedFiles == 8, s"expected over-approximation to 8: $report")
  }

  test("compaction rewrites carry fresh zone maps") {
    val lake = GraftTestSpark.tmpDir("lake_stats_compact") + "/t"
    layDown(lake)
    val compacted = LakeSink.compactPartitions(spark, lake,
      targetFileBytes = 1L << 30, minFiles = 2,
      statsCols = Seq("event_id"))
    assert(compacted.nonEmpty, "fixture leaves should have compacted")
    // each leaf is now ONE gc file spanning all ids of its date; a range
    // query must still prune nothing-wrong and scan both leaves (each
    // date holds ids from every batch), with correct results
    val (df, report) = LakeSink.readPruned(spark, lake, "event_id", 5, 14)
    assert(idSet(df) == (5L to 14L).toSet)
    assert(report.totalFiles == 2 && report.scannedFiles == 2, s"$report")
    // but a range past the data prunes BOTH rewritten files via their
    // fresh stats (stale gb entries alone could not prune gc files)
    val (_, r0) = LakeSink.readPruned(spark, lake, "event_id", 1000, 2000)
    assert(r0.scannedFiles == 0,
      s"rewrites must be prunable from their own stats: $r0")
  }

  test("clustered compaction composes with zone maps: ~one file per leaf scans") {
    val lake = GraftTestSpark.tmpDir("lake_stats_cluster") + "/t"
    layDown(lake)
    // each date leaf holds 4 files with OVERLAPPING user_id ranges (every
    // append spans the whole id space on that column); cluster the rewrite
    // BY event_id into 2 files per leaf with disjoint ranges
    val done = LakeSink.compactPartitions(spark, lake,
      targetFileBytes = 2L << 10, minFiles = 2,
      statsCols = Seq("event_id"), clusterBy = Seq("event_id"))
    assert(done.nonEmpty)
    val (df, report) = LakeSink.readPruned(spark, lake, "event_id", 0, 3)
    assert(idSet(df) == Set(0L, 1L, 2L, 3L))
    // ids 0-3 live in ONE disjoint-range file per leaf after clustering
    assert(report.scannedFiles < report.totalFiles,
      s"clustered rewrite must leave prunable disjoint ranges: $report")
    assert(report.scannedFiles <= 2, s"expected ~one file per touched leaf: $report")
  }

  test("z-order compaction prunes on EITHER column; 1-D clustering only on its own") {
    import spark.implicits._
    // 256 rows on one date; user_id = (id * 73) % 256 is a permutation of
    // the id domain, so the two columns are independent — every ingest file
    // AND every 1-D-clustered file spans the full user range
    def rows = (0 until 256).map { i =>
      Event(i.toLong, ts(s"2024-03-01 10:00:${10 + i % 40}"),
        (i * 73) % 256, if (i % 3 == 0) "click" else "view", i.toDouble)
    }
    def lay(lake: String): Unit = (0 until 4).foreach { b =>
      LakeSink.appendBatch(spark, lake,
        rows.filter(_.event_id % 4 == b).toDF().coalesce(1),
        commitId = Some(b.toLong), statsCols = Seq("event_id", "user_id"))
    }
    val zLake = GraftTestSpark.tmpDir("lake_stats_z") + "/t"
    lay(zLake)
    LakeSink.compactPartitions(spark, zLake, targetFileBytes = 1L << 10,
      minFiles = 2, statsCols = Seq("event_id", "user_id"),
      zorderBy = Seq("event_id", "user_id"))
    val (zx, rzx) = LakeSink.readPruned(spark, zLake, "event_id", 0, 31)
    val (zy, rzy) = LakeSink.readPruned(spark, zLake, "user_id", 0, 31)
    assert(idSet(zx) == (0L to 31L).toSet)
    assert(idSet(zy) == rows.filter(e => e.user_id >= 0 && e.user_id <= 31)
      .map(_.event_id).toSet)
    assert(rzx.scannedFiles < rzx.totalFiles,
      s"z-order must prune the interleaved X column: $rzx")
    assert(rzy.scannedFiles < rzy.totalFiles,
      s"z-order must prune the interleaved Y column: $rzy")

    // negative control: the same table clustered on event_id ONLY — the
    // user_id query cannot prune a single file (every file spans the full
    // user range), which is exactly the gap z-order exists to close
    val cLake = GraftTestSpark.tmpDir("lake_stats_c") + "/t"
    lay(cLake)
    LakeSink.compactPartitions(spark, cLake, targetFileBytes = 1L << 10,
      minFiles = 2, statsCols = Seq("event_id", "user_id"),
      clusterBy = Seq("event_id"))
    val (_, rcx) = LakeSink.readPruned(spark, cLake, "event_id", 0, 31)
    val (_, rcy) = LakeSink.readPruned(spark, cLake, "user_id", 0, 31)
    assert(rcx.scannedFiles < rcx.totalFiles)
    assert(rcy.scannedFiles == rcy.totalFiles,
      s"1-D clustering should NOT prune the other column: $rcy")
  }

  test("merge rewrites and inserts carry zone maps; vacuum folds sidecars") {
    import spark.implicits._
    val lake = GraftTestSpark.tmpDir("lake_stats_merge") + "/t"
    layDown(lake)
    val upserts = Seq(
      Event(5, ts("2024-03-02 10:00:15"), 105, "updated", 500.0),
      Event(100, ts("2024-03-03 09:00:00"), 200, "inserted", 100.0)).toDF()
    val deletes = spark.emptyDataset[(Long, Timestamp)].toDF("event_id", "ts")
    LakeSink.mergeInto(spark, lake, upserts, "event_id", deletes,
      statsCols = Seq("event_id"))

    def check(): Unit = {
      val (df, _) = LakeSink.readPruned(spark, lake, "event_id", 90, 200)
      assert(idSet(df) == Set(100L), "merge-inserted row must be found")
      val (_, r0) = LakeSink.readPruned(spark, lake, "event_id", 1000, 2000)
      assert(r0.scannedFiles == 0,
        s"merged leaves must be prunable from fresh stats: $r0")
    }
    check()

    val root = new org.apache.hadoop.fs.Path(lake)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statsDir = new org.apache.hadoop.fs.Path(lake, "_graft_stats")
    assert(fs.listStatus(statsDir).count(_.isFile) > 1)
    LakeSink.vacuum(spark, lake, java.time.LocalDate.parse("2020-01-01"))
    assert(fs.listStatus(statsDir).count(_.isFile) == 1,
      "vacuum must fold the sidecars into one")
    check() // pruning survives the fold unchanged
  }

  test("restored files carry zone maps on the lake's stats columns") {
    val lake = GraftTestSpark.tmpDir("lake_stats_restore") + "/t"
    layDown(lake)
    // roll back batches 2 and 3: both leaves are rewritten to ids 0-19
    val restored = LakeSink.restoreTo(spark, lake, asOf = 1L)
    assert(restored.rewrittenLeaves.size == 2, s"both leaves rewritten: $restored")
    val (df, report) = LakeSink.readPruned(spark, lake, "event_id", 5, 14)
    assert(idSet(df) == (5L to 14L).toSet)
    assert(report.totalFiles > 0 && report.scannedFiles == report.totalFiles,
      s"each restored leaf holds ids in range: $report")
    // the rolled-back ids: every restored file's map ends at 19 (its
    // `value` at 19.0), so both columns prune every file
    Seq("event_id", "value").foreach { c =>
      val (gone, r) = LakeSink.readPruned(spark, lake, c, 20, 39)
      assert(gone.isEmpty && r.totalFiles > 0 && r.scannedFiles == 0,
        s"restored files must be prunable on $c: $r")
    }
  }
}
