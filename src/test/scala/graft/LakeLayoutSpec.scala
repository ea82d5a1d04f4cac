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
    val rows = LakeSink.readLake(spark, lake)
      .select("event_id", "ts", "user_id", "event_type", "value", "event_date")
      .collect().map(_.mkString(",")).sorted.toSeq
    ("# paths" +: paths) ++ ("# files" +: texts) ++ ("# rows" +: rows)
  }

  test("a fixed verb sequence lays down the recorded on-disk format") {
    import spark.implicits._
    val lake = GraftTestSpark.tmpDir("lake_layout") + "/t"
    val sink = LakeSink.datePartitioned(lake, compactEvery = 2,
      minFilesToCompact = 2, statsCols = statsCols)
    // batches 0-2 through the streaming sink; batch 1 triggers the scoped
    // sweep (event_date 1 and 2 hold two files each, 3 holds one)
    sink(Seq(ev(1, 1, 1.0), ev(2, 1, 2.0), ev(3, 2, 3.0), ev(4, 2, 4.0)).toDF(), 0L)
    sink(Seq(ev(5, 1, 5.0), ev(6, 1, 6.0), ev(7, 2, 7.0), ev(8, 2, 8.0),
      ev(9, 3, 9.0), ev(10, 3, 10.0)).toDF(), 1L)
    sink(Seq(ev(11, 2, 11.0), ev(12, 2, 12.0), ev(13, 3, 13.0),
      ev(14, 3, 14.0)).toDF(), 2L)
    assert(LakeSink.appendBatch(spark, lake,
      Seq(ev(15, 4, 15.0), ev(16, 4, 16.0)).toDF(), statsCols = statsCols) == 3L)
    // rewrites day 1 (update 5) and day 2 (delete 11); appends day 5
    val m = LakeSink.mergeInto(spark, lake,
      Seq(ev(5, 1, 50.0), ev(17, 5, 17.0)).toDF(), "event_id",
      Seq(ev(11, 2, 0.0)).toDF().select("event_id", "ts"),
      statsCols = statsCols, recordChanges = true)
    assert(m.commitId == 4L)
    val dv = LakeSink.deleteVectors(spark, lake,
      Seq(ev(13, 3, 0.0)).toDF().select("event_id", "ts"), "event_id",
      recordChanges = true)
    assert(dv.commitId == 5L && dv.deletedRows == 1L)
    val r = LakeSink.restoreTo(spark, lake, asOf = 3L)
    assert(r.commitId == 6L)
    val afterRestore = snapshot(lake)
    val (dropped, pruned) = LakeSink.vacuum(spark, lake,
      before = java.time.LocalDate.parse("2024-03-02"), ledgerKeep = 2L)
    assert(dropped == Seq("event_date=2024-03-01") && pruned == 4)
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
}
