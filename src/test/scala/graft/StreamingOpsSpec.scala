package graft

import java.sql.Timestamp

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.Event

/** Structured Streaming semantics: watermarked windows (late-data
  * finalization), stateful dedup, stream-stream interval join, arbitrary
  * keyed state. All driven synchronously with processAllAvailable
  * (SURVEY §7.4: never sleeps).
  */
class StreamingOpsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  private def startStream() = {
    implicit val ctx: SQLContext = spark.sqlContext
    import spark.implicits._
    MemoryStream[Event]
  }

  test("watermarked tumbling windows finalize in append mode") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.windowedCounts(ms.toDF())
      .writeStream.format("memory").queryName("win_out").outputMode("append").start()
    ms.addData(
      Event(1, ts("2024-01-01 01:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 02:00:00"), 1, "click", 2.0),
      Event(3, ts("2024-01-01 07:00:00"), 2, "view", 3.0))
    q.processAllAvailable()
    // watermark now 06:50 (max ts - 10m): the 00:00 window may finalize, the
    // 06:00 window (end 12:00) must NOT yet
    val early = spark.sql("SELECT * FROM win_out").count()
    // advance event time far past the windows + watermark horizon
    ms.addData(Event(99, ts("2024-01-02 00:00:00"), 9, "flush", 0.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM win_out ORDER BY window_start").collect()
    q.stop()
    assert(early <= 1)
    assert(rows.map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSeq ===
      Seq(("2024-01-01 00:00:00.0", "click", 2L), ("2024-01-01 06:00:00.0", "view", 1L)))
  }

  test("full-outer stream-stream join emits both null sides after the watermark") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.clickErrorJoinFull(ms.toDF())
      .writeStream.format("memory").queryName("full_join_out").outputMode("append").start()
    ms.addData(
      Event(10, ts("2024-01-01 00:30:00"), 1, "click", 1.0), // matched by error 11
      Event(11, ts("2024-01-01 01:00:00"), 1, "error", 1.0),
      Event(12, ts("2024-01-01 01:00:00"), 2, "error", 1.0), // no click -> (12, null)
      Event(13, ts("2024-01-01 01:00:00"), 3, "click", 1.0)) // no error -> (null, 13)
    q.processAllAvailable()
    // advance both watermarks far past every join window
    ms.addData(
      Event(98, ts("2024-01-02 00:00:00"), 9, "click", 0.0),
      Event(99, ts("2024-01-02 00:00:00"), 9, "error", 0.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT error_id, click_id FROM full_join_out WHERE user_id < 9 ORDER BY user_id")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    q.stop()
    assert(rows === Seq(
      (Some(11L), Some(10L)),  // matched inside the window
      (Some(12L), None),       // error with no click: null click side
      (None, Some(13L))))      // click with no error: null error side
  }

  test("right-outer stream-stream join preserves unmatched clicks after the watermark") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.clickErrorJoinRight(ms.toDF())
      .writeStream.format("memory").queryName("right_join_out").outputMode("append").start()
    ms.addData(
      Event(10, ts("2024-01-01 00:30:00"), 1, "click", 1.0), // matched by error 11
      Event(11, ts("2024-01-01 01:00:00"), 1, "error", 1.0),
      Event(12, ts("2024-01-01 01:00:00"), 2, "error", 1.0), // no click -> dropped (right-outer)
      Event(13, ts("2024-01-01 01:00:00"), 3, "click", 1.0)) // no error -> (null, 13)
    q.processAllAvailable()
    // advance both watermarks far past every join window
    ms.addData(
      Event(98, ts("2024-01-02 00:00:00"), 9, "click", 0.0),
      Event(99, ts("2024-01-02 00:00:00"), 9, "error", 0.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT error_id, click_id FROM right_join_out WHERE user_id < 9 ORDER BY user_id")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    q.stop()
    assert(rows === Seq(
      (Some(11L), Some(10L)),  // matched inside the window
      (None, Some(13L))))      // click with no error: null error side; error 12 dropped
  }

  test("chained tumbling windows roll 1h counts into finalized 6h blocks") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.chainedWindowCounts(ms.toDF())
      .writeStream.format("memory").queryName("chain_out").outputMode("append").start()
    ms.addData(
      Event(1, ts("2024-01-01 01:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 01:20:00"), 2, "click", 1.0),
      Event(3, ts("2024-01-01 02:00:00"), 3, "click", 1.0),
      Event(4, ts("2024-01-01 07:00:00"), 4, "view", 1.0))
    // advance the single upstream watermark far past both window levels
    ms.addData(Event(99, ts("2024-01-02 00:00:00"), 9, "flush", 0.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM chain_out ORDER BY window_start, event_type").collect()
    q.stop()
    // 3 clicks across two 1h windows fold into ONE 6h block of 3
    assert(rows.map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSeq ===
      Seq(("2024-01-01 00:00:00.0", "click", 3L), ("2024-01-01 06:00:00.0", "view", 1L)))
  }

  test("late events beyond the watermark are dropped, not re-aggregated") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.windowedCounts(ms.toDF())
      .writeStream.format("memory").queryName("late_out").outputMode("append").start()
    ms.addData(Event(1, ts("2024-01-01 01:00:00"), 1, "click", 1.0))
    ms.addData(Event(2, ts("2024-01-02 00:00:00"), 9, "flush", 0.0)) // watermark -> Jan 1 23:50
    q.processAllAvailable()
    val emitted = spark.sql("SELECT n FROM late_out WHERE event_type = 'click'").collect()
    // a click 23h older than the watermark: its window already finalized
    ms.addData(Event(3, ts("2024-01-01 01:30:00"), 1, "click", 1.0))
    ms.addData(Event(4, ts("2024-01-03 00:00:00"), 9, "flush2", 0.0))
    q.processAllAvailable()
    val after = spark.sql("SELECT n FROM late_out WHERE event_type = 'click'").collect()
    q.stop()
    assert(emitted.map(_.getLong(0)).toSeq === Seq(1L))
    // no second click row appended, and the finalized count is unchanged
    assert(after.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("complete output mode re-emits the full aggregate each batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ms = startStream()
    val q = ms.toDF().groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("complete_out").outputMode("complete").start()
    ms.addData(Event(1, ts("2024-01-01 01:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    val n1 = spark.sql("SELECT n FROM complete_out WHERE event_type = 'click'")
      .head().getLong(0)
    ms.addData(Event(2, ts("2024-01-01 01:01:00"), 2, "click", 1.0))
    q.processAllAvailable()
    val n2 = spark.sql("SELECT n FROM complete_out WHERE event_type = 'click'")
      .head().getLong(0)
    q.stop()
    assert(n1 === 1 && n2 === 2)
  }

  test("sliding windows assign each event to window/slide overlapping windows") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.slidingCounts(ms.toDF())
      .writeStream.format("memory").queryName("slide_out").outputMode("append").start()
    // 01:00 lands in the 6h/3h windows [21:00(prev), 03:00) and [00:00, 06:00)
    ms.addData(Event(1, ts("2024-01-01 01:00:00"), 1, "click", 1.0))
    ms.addData(Event(99, ts("2024-01-02 00:00:00"), 9, "flush", 0.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT window_start, n FROM slide_out WHERE event_type = 'click' ORDER BY 1")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSeq
    q.stop()
    assert(rows === Seq(("2023-12-31 21:00:00.0", 1L), ("2024-01-01 00:00:00.0", 1L)))
  }

  test("session windows merge within the gap, split across it, finalize on watermark") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.sessionCounts(ms.toDF())
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    ms.addData(
      Event(1, ts("2024-01-01 01:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 01:10:00"), 1, "view", 1.0),  // same session (gap < 30m)
      Event(3, ts("2024-01-01 02:30:00"), 1, "click", 1.0)) // new session (gap > 30m)
    q.processAllAvailable()
    // watermark = 02:20: the first session (ends 01:40) finalizes, the open
    // 02:30 session must NOT be emitted yet
    val early = spark.sql("SELECT * FROM sess_out").count()
    val earlyOpen = spark.sql(
      "SELECT * FROM sess_out WHERE session_start = '2024-01-01 02:30:00'").count()
    ms.addData(Event(99, ts("2024-01-02 00:00:00"), 9, "flush", 0.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT session_start, session_end, n FROM sess_out WHERE user_id = 1 ORDER BY 1")
      .collect().map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString, r.getLong(2))).toSeq
    q.stop()
    assert(early === 1 && earlyOpen === 0)
    assert(rows === Seq(
      ("2024-01-01 01:00:00.0", "2024-01-01 01:40:00.0", 2L),
      ("2024-01-01 02:30:00.0", "2024-01-01 03:00:00.0", 1L)))
  }

  test("late events past the watermark do not reopen a finalized session") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.sessionCounts(ms.toDF())
      .writeStream.format("memory").queryName("sess_late_out").outputMode("append").start()
    ms.addData(Event(1, ts("2024-01-01 01:00:00"), 1, "click", 1.0))
    ms.addData(Event(99, ts("2024-01-02 00:00:00"), 9, "flush", 0.0)) // watermark -> 23:50
    q.processAllAvailable()
    // 01:05 is 22h+ behind the watermark: the session already finalized at n=1
    ms.addData(Event(2, ts("2024-01-01 01:05:00"), 1, "view", 1.0))
    ms.addData(Event(100, ts("2024-01-03 00:00:00"), 9, "flush2", 0.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT n FROM sess_late_out WHERE user_id = 1").collect()
    q.stop()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("plain dropDuplicates dedups arbitrarily late duplicates (unbounded state)") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.dedupUnbounded(ms.toDF())
      .writeStream.format("memory").queryName("dedup_unb_out").outputMode("append").start()
    ms.addData(Event(42, ts("2024-01-01 01:00:00"), 1, "click", 1.0))
    ms.addData(Event(43, ts("2024-06-01 00:00:00"), 1, "click", 1.0)) // months later
    q.processAllAvailable()
    // same id reappearing months later in event time: still dropped, because
    // without a watermark the dedup state is never evicted
    ms.addData(Event(42, ts("2024-06-01 00:01:00"), 1, "click", 9.9))
    q.processAllAvailable()
    val n = spark.sql("SELECT * FROM dedup_unb_out").count()
    q.stop()
    assert(n === 2)
  }

  test("console sink runs a watermarked aggregation to completion") {
    import spark.implicits._
    val ms = startStream()
    // smoke test for the console sink surface (§2.2 sinks row): it must
    // accept a streaming aggregate in update mode and drain without error
    val q = StatefulOps.windowedCounts(ms.toDF())
      .writeStream.format("console").option("numRows", "5").outputMode("update").start()
    ms.addData(Event(1, ts("2024-01-01 01:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    assert(q.exception.isEmpty)
  }

  test("dropDuplicatesWithinWatermark drops dupes within horizon") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.dedupWithinWatermark(ms.toDF())
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    val e = Event(42, ts("2024-01-01 01:00:00"), 1, "click", 1.0)
    ms.addData(e, e) // duplicate inside one batch
    q.processAllAvailable()
    ms.addData(e.copy(value = 9.9)) // duplicate id across batches, still within horizon
    q.processAllAvailable()
    val n = spark.sql("SELECT * FROM dedup_out").count()
    q.stop()
    assert(n === 1)
  }

  test("streaming dedup drops token-permuted duplicates via the batch fingerprint") {
    import spark.implicits._
    implicit val ctx: SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StatefulOps.dedupDocStream(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("docdedup_out").outputMode("append").start()
    ms.addData(1L -> "spark shuffles data fast")
    q.processAllAvailable()
    // a later doc with the SAME token set in a different order and with a
    // repeated token is the same content class -> dropped across batches
    ms.addData(2L -> "fast data shuffles spark spark", 3L -> "entirely new words here")
    q.processAllAvailable()
    val kept = spark.sql("SELECT doc_id FROM docdedup_out ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    q.stop()
    assert(kept === Seq(1L, 3L), s"permuted duplicate must be dropped, got $kept")
  }

  test("stream-static join enriches events with a broadcast dimension") {
    import spark.implicits._
    val ms = startStream()
    val users = Seq((7L, "gold"), (8L, "bronze")).toDF("user_id", "segment")
    val q = StatefulOps.enrichWithUsers(ms.toDF(), users)
      .writeStream.format("memory").queryName("enrich_out").outputMode("append").start()
    ms.addData(
      Event(1, ts("2024-01-01 01:00:00"), 7, "click", 1.0),
      Event(2, ts("2024-01-01 01:01:00"), 9, "click", 2.0)) // no dim row
    q.processAllAvailable()
    val rows = spark.sql("SELECT event_id, segment FROM enrich_out ORDER BY event_id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    q.stop()
    // left outer: unmatched users keep the event with a null segment
    assert(rows === Seq((1L, Some("gold")), (2L, None)))
  }

  test("stream-stream interval join matches clicks to later errors") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.clickErrorJoin(ms.toDF())
      .writeStream.format("memory").queryName("join_out").outputMode("append").start()
    ms.addData(
      Event(1, ts("2024-01-01 01:00:00"), 7, "click", 1.0),
      Event(2, ts("2024-01-01 01:30:00"), 7, "error", 0.0),  // within 1h of click 1
      Event(3, ts("2024-01-01 03:30:00"), 7, "error", 0.0),  // too late for click 1
      Event(4, ts("2024-01-01 01:10:00"), 8, "error", 0.0))  // other user, no click
    q.processAllAvailable()
    val rows = spark.sql("SELECT error_id, click_id FROM join_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(rows === Set((2L, 1L)))
  }

  test("stream-stream LEFT-OUTER join emits unmatched errors with null click_id after watermark") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.clickErrorJoinOuter(ms.toDF())
      .writeStream.format("memory").queryName("ojoin_out").outputMode("append").start()
    ms.addData(
      Event(1, ts("2024-01-01 01:00:00"), 7, "click", 1.0),
      Event(2, ts("2024-01-01 01:30:00"), 7, "error", 0.0),  // matches click 1
      Event(4, ts("2024-01-01 01:10:00"), 8, "error", 0.0))  // no click for user 8, ever
    q.processAllAvailable()
    // global watermark (min of both sides) is still behind error 4's window:
    // the null-side row must NOT be emitted yet
    val early = spark.sql("SELECT error_id, click_id FROM ojoin_out").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(early === Set((2L, Some(1L))),
      s"unmatched error must be held until the watermark closes its window, got $early")
    // advance BOTH side watermarks far past error 4's join window
    ms.addData(
      Event(5, ts("2024-01-01 05:00:00"), 9, "click", 0.0),
      Event(6, ts("2024-01-01 05:00:00"), 9, "error", 0.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT error_id, click_id FROM ojoin_out").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    q.stop()
    // error 4 now emits with a NULL click side; matched rows unchanged
    assert(rows === Set((2L, Some(1L)), (6L, Some(5L)), (4L, None)))
  }

  test("EventTimeTimeout fires the callback and evicts state once the watermark passes") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.idleSessionSummaries(ms.toDS())
      .writeStream.format("memory").queryName("idle_out").outputMode("append").start()
    ms.addData(
      Event(1, ts("2024-01-01 01:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 01:05:00"), 1, "view", 1.0))
    q.processAllAvailable()
    // nothing emits while the session is open (output only on timeout)
    assert(spark.sql("SELECT * FROM idle_out").count() === 0)
    // watermark -> 01:50, past the 01:05 + 30m timeout: callback fires
    ms.addData(Event(99, ts("2024-01-01 02:00:00"), 9, "flush", 0.0))
    q.processAllAvailable()
    val first = spark.sql("SELECT n_events FROM idle_out WHERE user_id = 1").collect()
    assert(first.map(_.getLong(0)).toSeq === Seq(2L), "timeout must emit the session summary")
    // state was REMOVED on timeout: the next event starts a fresh session
    // counting from zero, not from the evicted 2
    ms.addData(Event(3, ts("2024-01-01 03:00:00"), 1, "click", 1.0))
    ms.addData(Event(100, ts("2024-01-01 06:00:00"), 9, "flush2", 0.0))
    q.processAllAvailable()
    val all = spark.sql("SELECT n_events FROM idle_out WHERE user_id = 1 ORDER BY last_ts")
      .collect().map(_.getLong(0)).toSeq
    q.stop()
    assert(all === Seq(2L, 1L), s"evicted state must not leak into the next session, got $all")
  }

  test("transformWithState TTL expires idle ValueState (counter restarts)") {
    import spark.implicits._
    val ms = startStream()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // TimeMode.ProcessingTime makes the engine schedule batches continuously
    // (shouldRunAnotherBatch is always true, so both processAllAvailable and
    // Trigger.AvailableNow spin on no-data batches) — so each incarnation is
    // driven by polling the sink for its row and then stopped explicitly;
    // the two incarnations share one checkpoint and the wall clock advances
    // past the TTL between them, mirroring the production pattern of a
    // periodically-resumed job whose idle keys age out between invocations.
    val ckpt = GraftTestSpark.tmpDir("ttl_ckpt")
    // foreachBatch sink: the only always-recoverable sink for update mode
    // (the memory sink refuses to resume from an existing checkpoint)
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def runUntilRow(): Unit = {
      val before = emitted.size
      val q = StatefulOps.runningTotalsTWSWithTTL(ms.toDS(), java.time.Duration.ofMillis(500))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StatefulOps.UserRunning], _: Long) =>
          batch.collect().foreach(u => emitted.add(u.n_events))
        }
        .start()
      // 180 s: RocksDB checkpoint restore on the second incarnation has
      // been observed to starve for >60 s when the full suite saturates
      // all 32 threads — the generous deadline only ever costs time on a
      // genuine hang
      val deadline = System.currentTimeMillis + 180000
      while (emitted.size == before) {
        q.exception.foreach(throw _)
        assert(System.currentTimeMillis < deadline, "timed out waiting for foreachBatch output")
        Thread.sleep(50)
      }
      q.stop()
    }
    ms.addData(Event(1, ts("2024-01-01 01:00:00"), 5, "click", 2.0))
    runUntilRow()
    assert(emitted.toArray.toSeq === Seq(1L))
    // let the 500 ms TTL lapse in wall-clock time — 8x margin because the
    // TTL clock is the state-store commit time, which under parallel-suite
    // load can land well after the sink row appears (observed flake at 2.4x,
    // and once more at the earlier 5x margin under a 20-suite parallel run)
    Thread.sleep(4000)
    ms.addData(Event(2, ts("2024-01-01 01:01:00"), 5, "view", 3.0))
    runUntilRow()
    // the first write expired before the second arrived: the counter
    // restarts at 1 instead of reaching 2
    assert(emitted.toArray.toSeq === Seq(1L, 1L),
      s"expected the TTL to evict the idle key's state between runs, got ${emitted.toArray.toSeq}")
  }

  test("transformWithState keeps per-user ValueState across batches (RocksDB)") {
    import spark.implicits._
    val ms = startStream()
    // transformWithState requires the RocksDB state store (session conf, not
    // a sink option)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = StatefulOps.runningTotalsTWS(ms.toDS())
      .writeStream.format("memory").queryName("tws_out").outputMode("update")
      .start()
    ms.addData(Event(1, ts("2024-01-01 01:00:00"), 5, "click", 2.0))
    q.processAllAvailable()
    ms.addData(Event(2, ts("2024-01-01 01:01:00"), 5, "view", 3.0))
    q.processAllAvailable()
    val last = spark.sql("SELECT * FROM tws_out WHERE n_events = 2").collect()
    q.stop()
    assert(last.length === 1)
    assert(last.head.getAs[Double]("total_value") === 5.0)
  }

  test("sharded window top-k is shard-count invariant (exact two-level decomposition)") {
    // st38's correctness core: the shard is a function of the grouping key,
    // so each item's counter is shard-complete and the merged ranking must
    // equal the unsharded one for ANY shard count — including shard counts
    // that straddle the suite's 4 shuffle partitions.
    import spark.implicits._
    // RocksDB is required by TWS; restore the session's previous provider
    // after — the shared session leaks the conf into later tests otherwise
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def run(shards: Int): Seq[String] = {
      val ms = startStream()
      val q = StatefulOps.shardedWindowTopKTWS(ms.toDS(), k = 2, shards = shards)
        .writeStream.format("memory").queryName(s"shard_topk_$shards")
        .outputMode("append").start()
      ms.addData(
        Event(1, ts("2024-01-01 01:00:00"), 1, "a", 1.0),
        Event(2, ts("2024-01-01 02:00:00"), 1, "a", 1.0),
        Event(3, ts("2024-01-01 02:30:00"), 2, "b", 1.0),
        Event(4, ts("2024-01-01 03:00:00"), 2, "c", 1.0),
        Event(5, ts("2024-01-01 03:10:00"), 3, "c", 1.0), // a=2, c=2, b=1: tie
        Event(6, ts("2024-01-01 07:00:00"), 1, "b", 1.0)) // second window
      q.processAllAvailable()
      ms.addData(Event(99, ts("2024-01-02 00:00:00"), 9, "zz", 0.0)) // flush
      q.processAllAvailable()
      val rows = spark.sql(s"SELECT * FROM shard_topk_$shards")
        .collect().map(_.toString).sorted.toSeq
      q.stop()
      rows
    }
    val expected = Seq(
      "[2024-01-01 00:00:00.0,1,a,2]", // (n DESC, type ASC): a=2 before c=2
      "[2024-01-01 00:00:00.0,2,c,2]",
      "[2024-01-01 06:00:00.0,1,b,1]")
    try {
      for (shards <- Seq(1, 2, 8))
        assert(run(shards) === expected, s"shards=$shards diverged")
    } finally prevProvider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("state data source: metadata names the operator; change feed replays puts and evictions") {
    // st42 certifies the store's final content against the oracle; this
    // pins the two companion surfaces: state-metadata (which operators /
    // stores / partition counts live in a checkpoint) and readChangeFeed
    // (the per-batch CDC of state transitions — update rows as windows
    // accumulate, delete rows as the watermark evicts them).
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, window}
    // readChangeFeed replays per-batch .changelog files — RocksDB only
    // writes them under changelog checkpointing, and the SHARED session may
    // arrive here with RocksDB (but not changelogs) left on by an earlier
    // test. Pin the production combo explicitly and restore after.
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevChangelog = spark.conf.getOption(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    try {
    val base = java.nio.file.Files.createTempDirectory("state_cdc_")
    val in = java.nio.file.Files.createDirectory(base.resolve("in"))
    val ckpt = base.resolve("ckpt").toString
    def pub(name: String, rows: Seq[(Long, Timestamp, String, Double)]): Unit = {
      val stage = base.resolve(s"st_$name")
      rows.toDF("event_id", "ts", "event_type", "value")
        .coalesce(1).write.parquet(stage.toString)
      val l = java.nio.file.Files.list(stage)
      val p = try l.filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().orElseThrow(() => new IllegalStateException("no part"))
      finally l.close()
      java.nio.file.Files.move(p, in.resolve(s"$name.parquet"))
    }
    // batch 0 opens two windows; its max ts (07:00, wm 06:00) evicts the
    // 00:00 window in the trailing no-data batch
    pub("b0", Seq((1L, ts("2024-01-01 01:00:00"), "a", 1.0),
      (2L, ts("2024-01-01 02:00:00"), "a", 2.0),
      (3L, ts("2024-01-01 07:00:00"), "b", 3.0)))
    val schema = Seq.empty[(Long, Timestamp, String, Double)]
      .toDF("event_id", "ts", "event_type", "value").schema
    val q = spark.readStream.schema(schema).parquet(in.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val meta = spark.read.format("state-metadata").option("path", ckpt).load()
      .select("operatorName", "stateStoreName", "numPartitions").collect()
    assert(meta.map(_.toString).toSeq === Seq("[stateStoreSave,default,4]"),
      s"unexpected state metadata: ${meta.mkString(",")}")

    val feed = spark.read.format("statestore").option("path", ckpt)
      .option("readChangeFeed", "true").option("changeStartBatchId", "0")
      .load()
      .selectExpr("batch_id", "change_type",
        "CAST(key.window.start AS STRING) AS ws", "key.event_type AS et",
        "value.count AS n")
      .collect().map(_.toString).sorted.toSeq
    // batch 0: both windows written (a counted twice); the eviction batch
    // deletes the closed 00:00 window (its delete row carries a null value)
    assert(feed.exists(_.startsWith("[0,update,2024-01-01 00:00:00")), s"feed: $feed")
    assert(feed.contains("[0,update,2024-01-01 06:00:00,b,1]"), s"feed: $feed")
    assert(feed.exists(r => r.startsWith("[1,delete,2024-01-01 00:00:00,a,")), s"feed: $feed")
    assert(!feed.exists(r => r.contains("delete") && r.contains("06:00:00")),
      s"open window must not be evicted: $feed")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevChangelog match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    }
  }

  test("transformWithState MapState counts per type; ListState stays capped at top-K") {
    import spark.implicits._
    val ms = startStream()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = StatefulOps.userActivityTWS(ms.toDS())
      .writeStream.format("memory").queryName("activity_out").outputMode("update")
      .start()
    ms.addData(
      Event(1, ts("2024-01-01 01:00:00"), 7, "click", 1.0),
      Event(2, ts("2024-01-01 01:01:00"), 7, "click", 4.0),
      Event(3, ts("2024-01-01 01:02:00"), 7, "view", 2.0))
    q.processAllAvailable()
    ms.addData(Event(4, ts("2024-01-01 01:03:00"), 7, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT * FROM activity_out").collect()
    // MapState: click counted across batches (2 then 3), view stays 1
    val clickFinal = rows.filter(r => r.getAs[String]("event_type") == "click")
      .map(_.getAs[Long]("n_type")).max
    assert(clickFinal === 3, s"expected click count 3 across batches, got $clickFinal")
    assert(rows.filter(_.getAs[String]("event_type") == "view")
      .forall(_.getAs[Long]("n_type") == 1))
    // ListState: 4 values seen (1,4,2,3) but the buffer keeps top-3 → 4+3+2
    val lastSum = rows.filter(r => r.getAs[String]("event_type") == "click")
      .map(_.getAs[Double]("topk_sum")).max
    assert(lastSum === 9.0, s"expected capped top-3 sum 9.0, got $lastSum")
  }

  test("flatMapGroupsWithState keeps running per-user totals across batches") {
    import spark.implicits._
    val ms = startStream()
    val q = StatefulOps.runningUserTotals(ms.toDS())
      .writeStream.format("memory").queryName("state_out").outputMode("update").start()
    ms.addData(
      Event(1, ts("2024-01-01 01:00:00"), 1, "click", 1.5),
      Event(2, ts("2024-01-01 01:01:00"), 1, "click", 2.5))
    q.processAllAvailable()
    ms.addData(Event(3, ts("2024-01-01 01:02:00"), 1, "view", 1.0))
    q.processAllAvailable()
    val last = spark.sql("SELECT * FROM state_out WHERE n_events = 3").collect()
    q.stop()
    assert(last.length === 1)
    assert(last.head.getAs[Double]("total_value") === 5.0)
  }

  test("st12 out-of-order replay drops late rows: equals the modeled drop rule, differs from batch") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def resultSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    val streamed = resultSet(
      graft.streaming.StreamingQueries.st12.fn(spark, GraftTestSpark.sf).collect())

    // independent batch replication of the oracle's drop model: the
    // LATE-EVENTS watermark for batch b is one batch behind eviction
    // (SPARK-40925) = max event-time ms of batches <= b-2, - 10 min; a row
    // survives iff its 6h window END exceeds that watermark
    val ev = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
    val bounds = ev.agg(min(col("ts")), max(col("ts"))).head
    val (mn, mx) = (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val tagged = ev.withColumn("batch",
      when(unix_millis(col("ts")) >= lit((mn + mx) / 2), lit(1))
        .when(col("event_id") % 5 === 0, lit(2)).otherwise(lit(0)))
    val wmByBatch = tagged.groupBy("batch")
      .agg(max(unix_millis(col("ts"))).as("mx_ts"))
      .withColumn("wm_ms", max(col("mx_ts")).over(
        Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, -2)) - 600000L)
      .select("batch", "wm_ms")
    val kept = tagged.join(wmByBatch, "batch")
      .filter(col("wm_ms").isNull ||
        unix_millis(window(col("ts"), "6 hours").getField("end")) > col("wm_ms"))
    def windowAgg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .select(col("window.start"), col("event_type"), col("n"), col("total_value"))
    val modeled = resultSet(windowAgg(kept).collect())
    val batchAll = resultSet(windowAgg(ev).collect())

    assert(kept.count() < ev.count(), "replay chunking produced no late rows — st12 degenerated")
    assert(streamed === modeled, "streaming drop path diverged from the modeled watermark rule")
    assert(streamed !== batchAll, "st12 must differ from the all-rows batch answer (late rows dropped)")
  }

  test("st33 quarantine captures exactly the late rows, idempotently across kill+restart") {
    import org.apache.spark.sql.functions._
    def census(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

    val clean = census(
      graft.streaming.StreamingQueries.st33.fn(spark, GraftTestSpark.sf).collect())
    val ev = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
    assert(clean.nonEmpty, "quarantine empty — the replay produced no late rows, st33 degenerated")
    assert(clean.map(_._2).sum < ev.count(),
      "quarantine swallowed the whole stream — the watermark rule broke")

    // the same classifier through a mid-stream kill + restart-from-checkpoint:
    // replayed batches re-read the ledger and must recompute the IDENTICAL
    // watermark and quarantine set (the ledger's per-batch overwrite is the
    // idempotency), so the census cannot drift
    val shm = java.nio.file.Paths.get("/dev/shm")
    val ledger = (if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, "graft_wmledger_t_")
    else java.nio.file.Files.createTempDirectory("graft_wmledger_t_")).toString
    val bounds = ev.agg(min(col("ts")), max(col("ts"))).head
    val (mn, mx) = (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val restarted = graft.streaming.ReplayHarness.replayEvents(
      spark, GraftTestSpark.sf, "append", chunks = 3,
      sentinelTypes = Seq(graft.streaming.ReplayHarness.SentinelType),
      killAfterBatches = Some(2),
      chunkBy = Some((minMs, maxMs) =>
        when(unix_millis(col("ts")) >= lit((minMs + maxMs) / 2), lit(1))
          .when(col("event_id") % 5 === 0, lit(2))
          .otherwise(lit(0))),
      sinkEnrich = Some(graft.streaming.LateAudit.quarantine(ledger)))(identity)
      .filter(col("event_type") =!= graft.streaming.ReplayHarness.SentinelType)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"),
        sum(col("event_id")).as("id_checksum"))
    assert(census(restarted.collect()) === clean,
      "quarantine census drifted across kill+restart — the ledger replay is not idempotent")
    assert(mn < mx) // fixture sanity: the chunk rule had a real span to split
  }

  test("late-audit seeding skips a torn ledger entry instead of wedging the restart") {
    import spark.implicits._
    val dir = GraftTestSpark.tmpDir("wmledger_torn")
    // a good entry (batch 0) and a TORN one (batch 1: crash mid-write left an
    // unreadable parquet footer) — the pre-fix one-shot recursive read failed
    // loudly on the torn footer before any replay could repair it
    Seq((0L, 1000000L)).toDF("batch_id", "max_ts")
      .coalesce(1).write.parquet(s"$dir/b0")
    val torn = java.nio.file.Paths.get(dir, "b1")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.write(torn.resolve("part-00000-torn.parquet"),
      Array[Byte](80, 65, 82, 49, 0, 0, 0)) // "PAR1" + garbage, no footer
    val classify = graft.streaming.LateAudit.quarantine(dir, delayMs = 0L)
    // replaying batch 2 must seed from b0 alone (no throw): wm = entries
    // <= 0 → 1000000; the 500000 ms row is behind it and quarantines
    val batch = Seq((5L, new java.sql.Timestamp(500000L), 1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(classify(batch, 2L).count() === 1L,
      "seeding did not survive the torn entry or lost the good one")
    // the torn batch's own replay overwrites b1 — after which a FRESH
    // instance seeds every entry cleanly (the repair path)
    classify(batch.withColumn("ts",
      org.apache.spark.sql.functions.lit(new java.sql.Timestamp(2000000L))), 1L)
    val fresh = graft.streaming.LateAudit.quarantine(dir, delayMs = 0L)
    assert(fresh(batch, 3L).count() === 1L,
      "repaired ledger did not seed cleanly")
  }

  test("st13 enriches each batch against its own dim snapshot, not the final dim") {
    import org.apache.spark.sql.functions._
    def resultSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.getString(3)), r.getDouble(4))).toSet

    val streamed = resultSet(
      graft.streaming.StreamingQueries.st13.fn(spark, GraftTestSpark.sf).collect())

    // independent batch replication: integer-division batch id per event,
    // versioned left join on (key match AND dim row arrived by that batch)
    val ev = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
    val bounds = ev.agg(min(col("ts")), max(col("ts"))).head
    val (mn, mx) = (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val span = math.max(1L, mx - mn + 1)
    val tagged = ev.withColumn("batch",
      least(lit(3), expr(s"(unix_millis(ts) - ${mn}L) * 4L div ${span}L")))
    val dim = graft.core.Tables.load(spark, GraftTestSpark.sf, "customer")
    def out(joined: org.apache.spark.sql.DataFrame) = resultSet(joined
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment").as("segment"), col("value")).collect())
    val modeled = out(tagged.join(dim,
      col("user_id") === col("c_custkey") && col("c_custkey") % 3 <= col("batch"), "left"))
    val fullDim = out(ev.join(dim, col("user_id") === col("c_custkey"), "left"))

    assert(streamed === modeled, "per-batch snapshot enrichment diverged from the versioned model")
    assert(streamed !== fullDim,
      "st13 must differ from full-dim enrichment (early events must miss late dim rows)")
  }

  test("st14 complete mode re-emits monotonically growing whole-result snapshots") {
    import org.apache.spark.sql.functions._
    // tap every micro-batch through sinkEnrich: record each snapshot's size
    // without changing it (complete-mode batches ARE whole results)
    val sizes = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val out = graft.streaming.ReplayHarness.replayEvents(
      spark, GraftTestSpark.sf, "complete",
      sentinelTypes = Seq(graft.streaming.ReplayHarness.SentinelType),
      sinkEnrich = Some((b, id) => { sizes.put(id, b.count()); b }))(
      graft.streaming.StatefulOps.windowedCounts)
      .filter(col("event_type") =!= graft.streaming.ReplayHarness.SentinelType)

    val batchAll = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .count()
    assert(out.count() === batchAll, "final complete snapshot must equal the batch answer")

    import scala.jdk.CollectionConverters._
    val snaps = sizes.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(snaps.size >= 4, s"expected one snapshot per micro-batch, got $snaps")
    assert(snaps.zip(snaps.tail).forall { case (a, b) => a <= b },
      s"complete-mode snapshots must grow monotonically: $snaps")
    assert(snaps.head < snaps.last,
      s"first snapshot must be a strict subset of the final one: $snaps")
  }

  test("replays run on an isolated session: the caller's conf is never mutated") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try {
      // (caller's value, micro-batch session's value), sampled mid-stream
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      graft.streaming.ReplayHarness.replayEvents(spark, GraftTestSpark.sf, "append",
        sinkEnrich = Some((b, _) => {
          seen.add((spark.conf.get(key), b.sparkSession.conf.get(key))); b
        }))(_.select("event_id", "ts", "user_id", "event_type", "value")).count()
      import scala.jdk.CollectionConverters._
      assert(!seen.isEmpty && seen.asScala.forall(_ == (("8", "4"))),
        s"expected the caller at 8 and the replay at 4 partitions, saw ${seen.asScala.toSet}")
      intercept[IllegalStateException] {
        graft.streaming.ReplayHarness.replayEvents(spark, GraftTestSpark.sf, "append")(
          _ => throw new IllegalStateException("transform failed"))
      }
      assert(spark.conf.get(key) === "8", "a failed replay leaked its conf into the caller")
    } finally spark.conf.set(key, prev)
  }

  test("st15 dedup eviction: late copies discarded, evicted keys re-emitted, live keys deduped") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamingQueries.st15.fn(spark, GraftTestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getString(5))).toSet

    // independent replication of the single-watermark model: W = max event
    // time over batches 0-1, minus the 10 min delay (late filter at batch 3
    // AND the end-of-batch-2 state cleanup are the same quantity)
    val ev = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
    val copies = ev.filter(col("event_id") % 7 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 20 HOURS"))
      .withColumn("props", lit("__dup__"))
    val prepped = ev.union(copies)
    val bounds = prepped.agg(min(col("ts")), max(col("ts"))).head
    val (mn, mx) = (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val span = math.max(1L, mx - mn + 1)
    val tagged = prepped.withColumn("batch",
      when(col("props") === "__dup__", lit(3))
        .otherwise(least(lit(2), expr(s"(unix_millis(ts) - ${mn}L) * 3L div ${span}L"))))
    val w = tagged.filter(col("batch") <= 1)
      .agg(max(unix_millis(col("ts")))).head.getLong(0) - 600000L

    val origTs = ev.select(col("event_id"), unix_millis(col("ts")).as("ots"))
    val copyFate = copies.join(origTs, "event_id")
      .withColumn("fate",
        when(unix_millis(col("ts")) < w, "late")
          .when(col("ots") + 600000L < w, "reemit")
          .otherwise("livedup"))
    val fates = copyFate.groupBy("fate").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Seq("late", "reemit", "livedup").forall(fates.getOrElse(_, 0L) > 0),
      s"st15 must exercise all three outcome classes, got $fates")

    val modeled = (ev.select(col("event_id"), col("ts"), col("props")).collect().map(r =>
      (r.getLong(0), r.getTimestamp(1), r.getString(2))) ++
      copyFate.filter(col("fate") === "reemit")
        .select(col("event_id"), col("ts"), col("props")).collect().map(r =>
          (r.getLong(0), r.getTimestamp(1), r.getString(2)))).toSet
    assert(streamed === modeled, "dedup eviction diverged from the single-watermark model")
    assert(fates("reemit") > 0 && streamed.count(_._3 == "__dup__") === fates("reemit"))
  }

  test("st21 join->window composite: propagated watermark accepts late pairs, join drops still flow through") {
    import org.apache.spark.sql.functions._
    def resultSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet

    // 1. registered (out-of-order) composite
    val streamed = resultSet(
      graft.streaming.StreamingQueries.st21.fn(spark, GraftTestSpark.sf).collect())

    // independent model: full batch interval join minus pairs whose click is
    // late under st16's certified watermark rule, then 6h-windowed
    val ev = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
    val bounds = ev.agg(min(col("ts")), max(col("ts"))).head
    val (mn, mx) = (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val span = math.max(1L, mx - mn + 1)
    val tagged = ev.withColumn("batch",
      when(col("event_type") === "click" && col("event_id") % 5 === 0, lit(3))
        .otherwise(least(lit(2), expr(s"(unix_millis(ts) - ${mn}L) * 3L div ${span}L"))))
    def sideMax(t: String) = tagged
      .filter(col("event_type") === t && col("batch") <= 1)
      .agg(max(unix_millis(col("ts")))).head.getLong(0)
    val w = math.min(sideMax("click"), sideMax("error")) - 600000L

    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("click_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("eu"), col("ts").as("ets"), col("event_id").as("error_id"))
    val full = errors.join(clicks,
      col("cu") === col("eu") && col("cts") <= col("ets") &&
        col("cts") >= col("ets") - expr("INTERVAL 1 HOUR"))
    def windowed(pairs: org.apache.spark.sql.DataFrame) = resultSet(pairs
      .groupBy(window(col("ets"), "6 hours"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("error_id") + col("click_id")).as("id_checksum"))
      .select(col("window.start"), col("n_pairs"), col("id_checksum")).collect())
    val modeled = windowed(full.filter(
      !(col("click_id") % 5 === 0 && unix_millis(col("cts")) < w)))
    val allPairs = windowed(full)

    assert(streamed === modeled,
      "join->window composite diverged from join-minus-late-pairs, windowed")
    assert(streamed !== allPairs,
      "out-of-order replay produced no propagated drops — st21 degenerated to the in-order composite")

    // 2. in-order composite == full batch answer (nothing late by harness
    // construction) — and the propagated-watermark acceptance is what lets
    // every eagerly-emitted pair land in a still-live window
    val inOrder = resultSet(graft.streaming.ReplayHarness.replayEvents(
      spark, GraftTestSpark.sf, "append")(
      graft.streaming.StatefulOps.joinWindowCounts).collect())
    assert(inOrder === allPairs, "in-order composite must equal the full batch join, windowed")

    // 3. no degeneracy vs the neighboring certified rows: the pair-window
    // relation is neither st6's event windows nor st16's flat pair list
    val st6Windows = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
      .groupBy(window(col("ts"), "6 hours"), col("event_type")).count().count()
    assert(streamed.map(_._2).sum < full.count(),
      "windowed pair counts must reflect join drops, not raw pair volume")
    assert(streamed.size != st6Windows,
      "st21 must aggregate joined pairs, not raw events")
  }

  test("st22 late bridge merges two previously-open sessions (count strictly below bridge-less)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val streamed = graft.streaming.StreamingQueries.st22.fn(spark, GraftTestSpark.sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet

    // independent batch gaps-and-islands over events + synthetics
    val ev = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
    val synth = graft.streaming.StreamingQueries.sessionBridgeSynthetics(ev)
    def sessions(df: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      df.withColumn("ns",
          when(lag(col("ts"), 1).over(w).isNull ||
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >= 1800000000L, 1)
            .otherwise(0))
        .withColumn("sn", sum(col("ns")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sn"))
        .agg(min(col("ts")).as("session_start"),
          (max(col("ts")) + expr("INTERVAL 30 MINUTES")).as("session_end"),
          count(lit(1)).as("n"))
    }
    val full = sessions(ev.unionByName(synth))
    val modeled = full
      .select(col("session_start"), col("session_end"), col("user_id"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === modeled, "streaming session merge diverged from the batch gap rule")

    // >=1 merge happened: removing the bridges leaves strictly MORE sessions
    // (each bridge fused two open fragments; none opened a session of its own)
    val withoutBridges = sessions(
      ev.unionByName(synth.filter(col("props") =!= "__bridge__"))).count()
    val nUsers = synth.select("user_id").distinct().count()
    assert(nUsers > 0, "no synthetic users planted — st22 degenerated to st7")
    assert(full.count() === withoutBridges - nUsers,
      s"expected exactly one merge per planted user ($nUsers), " +
        s"got ${withoutBridges - full.count()}")

    // every planted triple landed in ONE merged n=3 session spanning A..C+30
    val planted = streamed.filter { case (_, _, u, n) => u % 10 == 0 && n == 3 }
    assert(planted.size.toLong === nUsers,
      s"each planted user must end with one merged 3-event session, got ${planted.size}/$nUsers")
  }

  test("st23 update mode emits intermediate window values; last emission wins") {
    import org.apache.spark.sql.functions._
    // replicate st23's replay but keep the raw per-batch emissions
    val perBatch = graft.streaming.ReplayHarness.replayEvents(
      spark, GraftTestSpark.sf, "update", chunks = 5,
      sentinelTypes = Seq(graft.streaming.ReplayHarness.SentinelType),
      chunkBy = Some(graft.streaming.StreamingQueries.st23ChunkRule),
      sinkEnrich = Some((b, bid) => b.withColumn("__bid", lit(bid))))(
      graft.streaming.StatefulOps.windowedCounts)
      .filter(col("event_type") =!= graft.streaming.ReplayHarness.SentinelType)
      .cache()
    try {
      val emissions = perBatch.count()
      val keys = perBatch.select("window_start", "event_type").distinct().count()
      assert(emissions > keys,
        s"update mode must re-emit changed windows across batches ($emissions emissions, $keys keys)")
      // last-emission assembly equals the batch answer
      val assembled = perBatch.groupBy(col("window_start"), col("event_type"))
        .agg(expr("max_by(n, __bid)").as("n"), expr("max_by(total_value, __bid)").as("total_value"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .select(col("window.start"), col("event_type"), col("n"), col("total_value"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(assembled === batch, "last-emission-per-window must equal the batch aggregate")
    } finally { perBatch.unpersist(); () }
  }

  test("st24 dedup->window composite: dedup stage ran, agg saw clean rows") {
    import org.apache.spark.sql.functions._
    def resultSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = resultSet(
      graft.streaming.StreamingQueries.st24.fn(spark, GraftTestSpark.sf).collect())
    val ev = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
    def windowed(df: org.apache.spark.sql.DataFrame) = resultSet(df
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start"), col("event_type"), col("n"), col("total_value"))
      .collect())
    assert(streamed === windowed(ev),
      "composite must count each event once despite the doubled input")
    assert(streamed !== windowed(ev.union(ev)),
      "result equals the doubled-input counts — the dedup stage did not run")
  }

  test("st25 TWS timers: fold closes mid-stream sessions, timers close each user's final one") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamingQueries.st25.fn(spark, GraftTestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet

    // batch gaps-and-islands twin
    import org.apache.spark.sql.expressions.Window
    val ev = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val modeled = ev.withColumn("ns",
        when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >= 1800000000L, 1)
          .otherwise(0))
      .withColumn("sn", sum(col("ns")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sn"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("n_events"), col("last_ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
    assert(streamed === modeled, "timer-driven sessionization diverged from the batch gap rule")

    // both closure paths exercised: each user's chronologically-last session
    // can only close via a TIMER fire (no later event exists to prove its
    // gap), and any user with >1 session had earlier ones closed by the fold
    val users = streamed.map(_._1)
    assert(users.nonEmpty, "no sessions emitted")
    assert(streamed.size > users.size,
      "every user had one session — the intra-batch fold-closure path is unexercised")
  }

  test("TWS processing-time timers: idle key flushes once and state clears") {
    import spark.implicits._
    val ms = startStream()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // ProcessingTime mode schedules batches continuously (see the TTL test
    // above), which is what drives timer evaluation with no new input —
    // poll the foreachBatch sink for each expected emission, never sleep
    // for a fixed guess
    val ckpt = GraftTestSpark.tmpDir("pt_timer_ckpt")
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Boolean)]()
    val q = StatefulOps.processingTimeFlushTWS(ms.toDS(), idleMs = 500)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[StatefulOps.UserFlush], _: Long) =>
        batch.collect().foreach(u => emitted.add((u.user_id, u.n_events, u.flushed)))
      }
      .start()
    def awaitRows(n: Int): Unit = {
      val deadline = System.currentTimeMillis + 180000
      while (emitted.size < n) {
        q.exception.foreach(throw _)
        assert(System.currentTimeMillis < deadline,
          s"timed out waiting for emission $n; got ${emitted.toArray.toSeq}")
        Thread.sleep(50)
      }
    }
    // two events in one batch: one non-flush emission with n=2, and ONE
    // deadline registered (the second event's input deleted the first's
    // timer — the reset-on-activity path)
    ms.addData(Event(1, ts("2024-01-01 01:00:00"), 5, "click", 2.0),
      Event(2, ts("2024-01-01 01:00:10"), 5, "view", 1.0))
    awaitRows(1)
    // no further input: the wall clock passes the 500 ms deadline and the
    // timer fires exactly once — flush row carries the accumulated count
    awaitRows(2)
    assert(emitted.toArray.toSeq.take(2) === Seq((5L, 2L, false), (5L, 2L, true)),
      s"expected input emission then timer flush, got ${emitted.toArray.toSeq}")
    // the flush CLEARED state: a later event restarts the counter at 1
    // (not 3), and registers a fresh deadline that flushes n=1
    ms.addData(Event(3, ts("2024-01-01 02:00:00"), 5, "click", 4.0))
    awaitRows(4)
    assert(emitted.toArray.toSeq.drop(2).take(2) === Seq((5L, 1L, false), (5L, 1L, true)),
      s"expected the counter to restart after the flush, got ${emitted.toArray.toSeq}")
    q.stop()
  }

  test("st16 late clicks lose their joins; on-time held-back clicks still join") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamingQueries.st16.fn(spark, GraftTestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // independent replication: W = min over sides of max event time in
    // batches <= 1 (held-back clicks excluded), minus the 10 min delay;
    // result = full interval join minus pairs whose click is late
    val ev = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
    val bounds = ev.agg(min(col("ts")), max(col("ts"))).head
    val (mn, mx) = (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val span = math.max(1L, mx - mn + 1)
    val tagged = ev.withColumn("batch",
      when(col("event_type") === "click" && col("event_id") % 5 === 0, lit(3))
        .otherwise(least(lit(2), expr(s"(unix_millis(ts) - ${mn}L) * 3L div ${span}L"))))
    def sideMax(t: String) = tagged
      .filter(col("event_type") === t && col("batch") <= 1)
      .agg(max(unix_millis(col("ts")))).head.getLong(0)
    val w = math.min(sideMax("click"), sideMax("error")) - 600000L

    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("click_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("eu"), col("ts").as("ets"), col("event_id").as("error_id"))
    val full = errors.join(clicks,
      col("cu") === col("eu") && col("cts") <= col("ets") &&
        col("cts") >= col("ets") - expr("INTERVAL 1 HOUR"))
      .select(col("error_id"), col("click_id"), col("eu").as("user_id"),
        (col("click_id") % 5 === 0 && unix_millis(col("cts")) < w).as("late"))
    val pairs = full.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val modeled = pairs.filter(!_._4).map(p => (p._1, p._2, p._3)).toSet

    assert(pairs.exists(_._4), "no pair involved a late click — st16 degenerated to st1")
    assert(pairs.filter(!_._4).exists(_._2 % 5 == 0),
      "no held-back click survived late arrival and joined — the on-time path is unexercised")
    assert(streamed === modeled, "join late-drop diverged from the full-join-minus-late model")
  }

  test("TWS incompatible state-type change across restart fails LOUDLY, never corrupts") {
    // st26 certifies the SUPPORTED evolution direction (widening by an
    // Option field with a null default). This pins the UNSUPPORTED one: a
    // restarted processor re-registering the same state name ("running")
    // with a type Avro cannot resolve from the written rows (total_value
    // Double -> String has no promotion rule). The production requirement
    // is that this upgrade mistake is a NAMED schema-compatibility error at
    // restart — not silently-empty state or garbage totals. Spark 4's
    // Avro path raises StateStoreInvalidValueSchemaEvolution
    // (STATE_STORE_INVALID_VALUE_SCHEMA_EVOLUTION, SQLSTATE XXKST) from
    // the schema-resolution check, wrapped in the streaming query's
    // StreamingQueryException chain; the UnsafeRow path's analogue is
    // STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE. Accept either name so a
    // Spark upgrade that reshuffles the two keeps the contract pinned.
    import spark.implicits._
    val ms = startStream()
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevEncoding = spark.conf.getOption("spark.sql.streaming.stateStore.encodingFormat")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Avro encoding is the evolution-capable format st26 runs under — the
    // loud-failure contract must hold exactly there, where a user would
    // expect "schema evolution" to save them
    spark.conf.set("spark.sql.streaming.stateStore.encodingFormat", "avro")
    try {
      val ckpt = GraftTestSpark.tmpDir("bad_evo_ckpt")
      // phase 1: V1 processor writes UserRunning state and checkpoints
      val sink1 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q1 = StatefulOps.runningTotalsTWS(ms.toDS())
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StatefulOps.UserRunning], _: Long) =>
          b.collect().foreach(u => sink1.add(u.n_events))
        }
        .start()
      ms.addData(Event(1, ts("2024-01-01 01:00:00"), 5, "click", 2.0))
      q1.processAllAvailable()
      q1.stop()
      assert(sink1.size === 1, "phase 1 wrote no state")

      // phase 2: same checkpoint, same state name, incompatible value type
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q2 = ms.toDS().groupByKey(_.user_id)
          .transformWithState(new BadEvolutionProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[BadRunning], _: Long) => b.collect(); ()
          }
          .start()
        try {
          ms.addData(Event(2, ts("2024-01-01 01:01:00"), 5, "view", 3.0))
          q2.processAllAvailable()
        } finally q2.stop()
      }
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(_.toString).mkString(" <- ")
      assert(chain.contains("STATE_STORE_INVALID_VALUE_SCHEMA_EVOLUTION") ||
        chain.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
        s"expected a named state-schema-incompatibility error, got: $chain")
    } finally {
      def restore(k: String, v: Option[String]): Unit =
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore("spark.sql.streaming.stateStore.providerClass", prevProvider)
      restore("spark.sql.streaming.stateStore.encodingFormat", prevEncoding)
    }
  }
}

/** Deliberately-incompatible "upgrade" of [[StatefulOps.UserCountProcessor]]
  * for the loud-failure certification above: same state name, but
  * total_value narrowed Double -> String (no Avro promotion). Test-only —
  * the library never ships a processor like this.
  */
final case class BadRunning(user_id: Long, n_events: Long, total_value: String)

class BadEvolutionProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, BadRunning] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[BadRunning] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    import org.apache.spark.sql.Encoders
    st = getHandle.getValueState[BadRunning]("running", Encoders.product[BadRunning],
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[Event],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[BadRunning] = {
    val prev = Option(st.get()).getOrElse(BadRunning(key, 0L, "0"))
    val next = BadRunning(key, prev.n_events + rows.size, prev.total_value)
    st.update(next)
    Iterator.single(next)
  }
}
