package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.UserIngestPipeline

/** The custom `graft-profiles` DataSource V2 micro-batch source (SURVEY R1
  * prod shape): bounded emission, deterministic content, partition split,
  * and end-to-end compatibility with the ingestion pipeline's parse stage.
  */
class ProfileSourceSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private def readProfiles(maxRecords: Long, rowsPerBatch: Long = 10, parts: Int = 3) =
    spark.readStream.format("graft-profiles")
      .option("maxRecords", maxRecords)
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", parts)
      .load()

  test("bounded generator emits exactly maxRecords then drains (R5 semantics)") {
    val q = readProfiles(maxRecords = 47, rowsPerBatch = 20)
      .writeStream.format("memory").queryName("prof_raw").outputMode("append").start()
    q.processAllAvailable()
    val n = spark.sql("SELECT * FROM prof_raw").count()
    q.stop()
    assert(n === 47)
  }

  test("content is deterministic in the record index across runs") {
    def run(name: String): Seq[String] = {
      val q = readProfiles(maxRecords = 30, rowsPerBatch = 7)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      q.processAllAvailable()
      val vals = spark.sql(s"SELECT value FROM $name").collect().map(_.getString(0)).toSeq.sorted
      q.stop()
      vals
    }
    val a = run("prof_det_a")
    val b = run("prof_det_b")
    assert(a === b)
    assert(a.distinct.size === 30, "every record index must yield a distinct payload")
  }

  test("Trigger.AvailableNow drains to maxRecords; checkpoint restart adds nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val outDir = GraftTestSpark.tmpDir("prof-an-out")
    val ckDir = GraftTestSpark.tmpDir("prof-an-ck")
    def drain(): Unit = {
      val q = readProfiles(maxRecords = 40, rowsPerBatch = 10)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(outDir).count() === 40)
    // second run against the same checkpoint: offsets resume at 40 == cap,
    // admission control returns no new range, the query drains and stops
    drain()
    assert(spark.read.parquet(outDir).count() === 40)
  }

  test("feeds UserIngestPipeline.parse: clean/corrupt split and postcode policy") {
    val parsed = UserIngestPipeline.parse(readProfiles(maxRecords = 62, rowsPerBatch = 31))
    val q = parsed.writeStream.format("memory").queryName("prof_parsed").outputMode("append").start()
    q.processAllAvailable()
    val total = spark.sql("SELECT * FROM prof_parsed").count()
    // torn payloads at i = 17, 48 -> corrupt side channel, never dropped rows
    val corrupt = spark.sql("SELECT * FROM prof_parsed WHERE _corrupt_record IS NOT NULL").count()
    // alphanumeric postcodes (i % 7 == 3, minus any torn index) cast to null
    val nullPost = spark.sql(
      "SELECT * FROM prof_parsed WHERE _corrupt_record IS NULL AND postcode IS NULL").count()
    val keyed = spark.sql(
      "SELECT * FROM prof_parsed WHERE _corrupt_record IS NULL AND user_id IS NOT NULL").count()
    q.stop()
    assert(total === 62)
    assert(corrupt === 2)
    assert(nullPost === 8, "i % 7 == 3 gives {3,10,17,24,31,38,45,52,59}; 17 is torn -> 8 remain")
    assert(keyed === 60, "every clean row gets the content-derived user_id key")
  }
}
