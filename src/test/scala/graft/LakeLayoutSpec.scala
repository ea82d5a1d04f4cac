package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LakeSink
import graft.streaming.StatefulOps.Event

/** Golden test of LakeSink's ON-DISK FORMAT: one fixed sequence of verbs
  * over a small seeded lake, then the sorted relative path of everything
  * under the root (directories, data files, `.crc` side files) and the
  * exact text of every commit marker, `_schema.*` registration, sweep
  * horizon, stats sidecar and deletion-vector `_targets` manifest, compared
  * with `src/test/resources/lake_layout.golden.txt`. Parquet bytes are not
  * compared; the live rows are, as one sorted line each.
  *
  * Spark's own part-file names carry a per-job UUID, which the snapshot
  * masks (`part-00000-<uuid>...`); every name LakeSink chooses itself
  * (`gb<id>-p<k>`, `gc<B>-p<k>`, ledger ids, generations) is kept verbatim.
  * On a mismatch the actual snapshot is written to
  * `target/lake_layout.actual.txt` for review.
  */
class LakeLayoutSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private val golden = Paths.get("src/test/resources/lake_layout.golden.txt")
  private val statsCols = Seq("event_id", "value")

  private def ev(id: Long, day: Int, v: Double) =
    Event(id, Timestamp.valueOf(f"2024-03-0$day 12:00:${id % 60}%02d"), 100 + id,
      if (id % 2 == 0) "view" else "click", v)

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  private def isText(rel: String): Boolean = !rel.endsWith(".crc") && (
    rel.startsWith("_graft_commits/") || rel.startsWith("_graft_stats/") ||
      rel.endsWith("/_targets"))

  /** Paths, then the text of every small metadata file, then the rows. */
  private def snapshot(lake: String): Seq[String] = {
    val root = Paths.get(lake)
    val walked: Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator.asScala.filterNot(_ == root).toList finally s.close()
    }
    val rels = walked.map { p =>
      val rel = root.relativize(p).toString
      (rel, if (Files.isDirectory(p)) s"$rel/" else rel)
    }.sortBy(_._2)
    val paths = rels.map(r => Uuid.replaceAllIn(r._2, "<uuid>"))
    val texts = rels.map(_._1).filter(isText).flatMap { rel =>
      s"## $rel" +: new String(Files.readAllBytes(root.resolve(rel)), UTF_8)
        .split("\n", -1).toSeq
    }
    ("# paths" +: paths) ++ ("# files" +: texts) ++
      ("# rows" +: rows(LakeSink.readLake(spark, lake)))
  }

  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "event_date")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(cols.head, cols.tail: _*).collect().map(_.mkString(",")).sorted.toSeq

  /** The fixed verb sequence up to the restore: streaming batches 0-2 (with
    * a scoped sweep), an append (3), a recorded merge (4), a recorded
    * deletion-vector delete (5) and a restore to 3 (6). `onCommit(k, rows)`
    * fires after each commit k with the rows it appended (none for the
    * rewrite and deletion-vector commits).
    */
  private def layDown(lake: String)(onCommit: (Long, Seq[Event]) => Unit): Unit = {
    import spark.implicits._
    val sink = LakeSink.datePartitioned(lake, compactEvery = 2,
      minFilesToCompact = 2, statsCols = statsCols)
    // batches 0-2 through the streaming sink; batch 1 triggers the scoped
    // sweep (event_date 1 and 2 hold two files each, 3 holds one)
    val batches = Seq(
      Seq(ev(1, 1, 1.0), ev(2, 1, 2.0), ev(3, 2, 3.0), ev(4, 2, 4.0)),
      Seq(ev(5, 1, 5.0), ev(6, 1, 6.0), ev(7, 2, 7.0), ev(8, 2, 8.0),
        ev(9, 3, 9.0), ev(10, 3, 10.0)),
      Seq(ev(11, 2, 11.0), ev(12, 2, 12.0), ev(13, 3, 13.0), ev(14, 3, 14.0)))
    batches.zipWithIndex.foreach { case (b, i) =>
      sink(b.toDF(), i.toLong)
      onCommit(i.toLong, b)
    }
    val appended = Seq(ev(15, 4, 15.0), ev(16, 4, 16.0))
    assert(LakeSink.appendBatch(spark, lake, appended.toDF(), statsCols = statsCols) == 3L)
    onCommit(3L, appended)
    // rewrites day 1 (update 5) and day 2 (delete 11); appends day 5
    val m = LakeSink.mergeInto(spark, lake,
      Seq(ev(5, 1, 50.0), ev(17, 5, 17.0)).toDF(), "event_id",
      Seq(ev(11, 2, 0.0)).toDF().select("event_id", "ts"),
      statsCols = statsCols, recordChanges = true)
    assert(m.commitId == 4L)
    onCommit(4L, Nil)
    val dv = LakeSink.deleteVectors(spark, lake,
      Seq(ev(13, 3, 0.0)).toDF().select("event_id", "ts"), "event_id",
      recordChanges = true)
    assert(dv.commitId == 5L && dv.deletedRows == 1L)
    onCommit(5L, Nil)
    val r = LakeSink.restoreTo(spark, lake, asOf = 3L)
    assert(r.commitId == 6L)
    onCommit(6L, Nil)
  }

  /** Vacuum the laid-down lake: drops day 1, prunes markers 0-3. */
  private def vacuumLake(lake: String): Unit = {
    val (dropped, pruned) = LakeSink.vacuum(spark, lake,
      before = java.time.LocalDate.parse("2024-03-02"), ledgerKeep = 2L)
    assert(dropped == Seq("event_date=2024-03-01") && pruned == 4)
  }

  test("a fixed verb sequence lays down the recorded on-disk format") {
    val lake = GraftTestSpark.tmpDir("lake_layout") + "/t"
    layDown(lake)((_, _) => ())
    val afterRestore = snapshot(lake)
    vacuumLake(lake)
    val actual = (("=== after restoreTo" +: afterRestore) ++
      ("=== after vacuum" +: snapshot(lake))).mkString("\n") + "\n"

    val expected =
      if (Files.exists(golden)) new String(Files.readAllBytes(golden), UTF_8) else ""
    if (actual != expected) {
      val out = Paths.get("target/lake_layout.actual.txt")
      Files.createDirectories(out.getParent)
      Files.write(out, actual.getBytes(UTF_8))
      val firstDiff = actual.split("\n").zipAll(expected.split("\n"), "<none>", "<none>")
        .zipWithIndex.collectFirst { case ((a, e), i) if a != e =>
          s"line ${i + 1}: actual '$a' vs expected '$e'" }
      fail(s"on-disk layout differs from $golden (${firstDiff.getOrElse("length")}); " +
        s"actual written to $out")
    }
  }

  test("readAsOf and tailCommits agree with the live view at every commit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_date}
    val lake = GraftTestSpark.tmpDir("lake_layout_asof") + "/t"
    val live = scala.collection.mutable.Map.empty[Long, Seq[String]]
    val appended = scala.collection.mutable.Map.empty[Long, Seq[String]]
    layDown(lake) { (k, input) =>
      live(k) = rows(LakeSink.readLake(spark, lake))
      if (input.nonEmpty)
        appended(k) = rows(input.toDF().withColumn("event_date", to_date(col("ts"))))
    }
    (0L to 6L).foreach { k =>
      assert(rows(LakeSink.readAsOf(spark, lake, k)) == live(k), s"readAsOf($k)")
    }
    assert(appended.keySet == Set(0L, 1L, 2L, 3L))
    appended.foreach { case (k, input) =>
      assert(rows(LakeSink.tailCommits(spark, lake, k - 1, k)) == input, s"tailCommits($k)")
    }
    // vacuum keeps markers and history generations from 4 on and drops
    // day 1: inside that window every snapshot still matches the live view
    // (minus day 1); below it a snapshot either fails loudly or is whole
    vacuumLake(lake)
    val kept = live.map { case (k, rs) => k -> rs.filterNot(_.endsWith(",2024-03-01")) }
    (0L to 6L).foreach { k =>
      val got = scala.util.Try(rows(LakeSink.readAsOf(spark, lake, k)))
      if (k >= 4L) assert(got.toOption.contains(kept(k)), s"readAsOf($k) after vacuum: $got")
      else assert(got.isFailure || got.get == kept(k), s"readAsOf($k) after vacuum: $got")
    }
  }
}
