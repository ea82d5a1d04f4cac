package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ProfileSource
import graft.streaming.UserIngestPipeline

/** The ingest stage's `user_id`: a pure function of the record's payload,
  * so micro-batches of `graft-profiles` records through
  * `UserIngestPipeline.parse` -> `writer` reuse one generated class and two
  * drains of the same records key them identically.
  */
class IngestKeySpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private val RowsPerBatch = 200L
  private val Batches = 6
  private val Records = RowsPerBatch * Batches

  /** Drains graft-profiles records [0, `records`) into `out`. */
  private def drain(out: String, ckpt: String, records: Long,
      rowsPerBatch: Long = RowsPerBatch, parts: Long = 4): Unit = {
    val raw = spark.readStream.format("graft-profiles")
      .option("rowsPerBatch", rowsPerBatch)
      .option("maxRecords", records)
      .option("numPartitions", parts)
      .load()
    UserIngestPipeline.runAvailableNow(UserIngestPipeline.parse(raw), out, ckpt).awaitTermination()
  }

  private def userIds(out: String): Seq[(String, String)] =
    spark.read.parquet(out).select("email", "user_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq

  test("steady-state micro-batches compile no new code") {
    implicit val ctx: SQLContext = spark.sqlContext
    import spark.implicits._
    // graft-profiles records through a MemoryStream, so the spec sets each
    // batch boundary and reads the codegen counter around that batch alone
    val ms = MemoryStream[String]
    val out = GraftTestSpark.tmpDir("key-cg-out")
    val q = UserIngestPipeline.writer(UserIngestPipeline.parse(ms.toDF()), out,
      GraftTestSpark.tmpDir("key-cg-ckpt")).start()
    val compiles = try (0 until Batches).map { k =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      ms.addData((k * RowsPerBatch until (k + 1) * RowsPerBatch).map(ProfileSource.recordJson))
      q.processAllAvailable()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    } finally q.stop()
    assert(compiles.tail.forall(_ == 0), s"code compiles per micro-batch: $compiles")
    assert(spark.read.parquet(out).count() ===
      (0L until Records).count(i => !ProfileSource.recordJson(i).startsWith("torn")))
  }

  test("user_id is the name-based UUID of the payload, stable across drains") {
    val emailOf = """"email": "([^"]+)"""".r
    val expected = (0L until Records).map(ProfileSource.recordJson)
      .flatMap(v => emailOf.findFirstMatchIn(v)
        .map(_.group(1) -> UUID.nameUUIDFromBytes(v.getBytes(UTF_8)).toString)).toMap
    val a = GraftTestSpark.tmpDir("key-a-out")
    val b = GraftTestSpark.tmpDir("key-b-out")
    drain(a, GraftTestSpark.tmpDir("key-a-ckpt"), Records)
    drain(b, GraftTestSpark.tmpDir("key-b-ckpt"), Records, rowsPerBatch = 500, parts = 3)
    val idsA = userIds(a)
    assert(idsA.size === expected.size)
    val wrong = idsA.filterNot { case (email, id) => expected.get(email).contains(id) }
    assert(wrong.isEmpty, s"${wrong.size} rows whose user_id is not the payload's, e.g. ${wrong.take(3)}")
    assert(idsA.map(_._2).distinct.size === idsA.size, "one user_id per row within a drain")
    assert(userIds(b).map(_._2).toSet === idsA.map(_._2).toSet)
  }
}
