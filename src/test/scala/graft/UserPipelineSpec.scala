package graft

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.UserIngestPipeline

/** End-to-end replay of the reference pipeline (SURVEY §5.2 "pipeline e2e"):
  * raw randomuser-style JSON through MemoryStream -> permissive parse ->
  * flatten -> content-derived key -> checkpointed foreachBatch parquet append ->
  * SQL over the ingested table.
  */
class UserPipelineSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private val good =
    """{"full_name": "Ada Lovelace", "gender": "female",
      |"address": "1815, Analytical Way, London,England, United Kingdom",
      |"postcode": "12345", "email": "ada@example.com", "phone": "020-7946-0000"}""".stripMargin.replaceAll("\n", " ")
  // SURVEY §1.2 defect 1: alphanumeric postcode must null the field, not kill the row
  private val ukPostcode =
    """{"full_name": "Alan Turing", "gender": "male", "address": "x", "postcode": "SW1A 1AA", "email": "a@b.c", "phone": "1"}"""
  private val truncated = """{"full_name": "Broken"""

  test("ingest pipeline: parse, postcode policy, content key, keyed sink") {
    implicit val ctx: SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val parsed = UserIngestPipeline.parse(ms.toDF())
    val outDir = GraftTestSpark.tmpDir("users-out")
    val ckDir = GraftTestSpark.tmpDir("users-ck")
    val q = UserIngestPipeline.writer(parsed, outDir, ckDir).start()
    ms.addData(good, ukPostcode)
    ms.addData(truncated)
    q.processAllAvailable()
    q.stop()

    val users = spark.read.parquet(outDir)
    assert(users.count() === 2) // 2 clean rows; the truncated poison pill is filtered, not fatal
    val byName = users.collect().map(r => Option(r.getAs[String]("full_name"))).toSet
    assert(byName.contains(Some("Ada Lovelace")))
    // postcode drift policy: numeric parses, alphanumeric nulls
    val ada = users.filter("full_name = 'Ada Lovelace'").head()
    assert(ada.getAs[Long]("postcode") === 12345L)
    val alan = users.filter("full_name = 'Alan Turing'").head()
    assert(alan.isNullAt(alan.fieldIndex("postcode")))
    // key derived from the payload and unique (SURVEY §1.2 defect 2 fix)
    val ids = users.select("user_id").collect().map(_.getString(0))
    assert(ids.forall(_ != null) && ids.distinct.length === ids.length)
    assert(ada.getAs[String]("user_id") ===
      java.util.UUID.nameUUIDFromBytes(good.getBytes("UTF-8")).toString)
    // ad-hoc query path (reference entry point C)
    UserIngestPipeline.registerUsersTable(spark, outDir)
    assert(spark.sql("SELECT full_name FROM users WHERE postcode IS NOT NULL").count() === 1)
  }

  test("checkpoint restart resumes offsets without duplicating batches") {
    implicit val ctx: SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val parsed = UserIngestPipeline.parse(ms.toDF())
    val outDir = GraftTestSpark.tmpDir("ck-out")
    val ckDir = GraftTestSpark.tmpDir("ck-ck")
    val q1 = UserIngestPipeline.writer(parsed, outDir, ckDir).start()
    ms.addData(good, ukPostcode)
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).count() === 2)
    // restart against the SAME checkpoint: committed batch must not replay
    ms.addData(good)
    val q2 = UserIngestPipeline.writer(parsed, outDir, ckDir).start()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(outDir).count() === 3)
  }

  test("catalog DDL + keyed append (reference R13/R14 analogue)") {
    import spark.implicits._
    // the on-disk warehouse outlives the in-memory catalog across test JVMs;
    // clear any orphan location before the idempotent DDL
    spark.sql("DROP TABLE IF EXISTS profiles.users")
    val orphan = new java.io.File("spark-warehouse/profiles.db/users")
    if (orphan.exists()) {
      import scala.reflect.io.Directory
      new Directory(orphan).deleteRecursively()
    }
    UserIngestPipeline.ensureCatalog(spark)
    val parsed = UserIngestPipeline.parse(Seq(good, ukPostcode).toDF("value"))
    UserIngestPipeline.appendToCatalog(parsed)
    val n = spark.sql("SELECT count(*) FROM profiles.users").head().getLong(0)
    assert(n >= 2)
    // idempotent DDL, append semantics
    UserIngestPipeline.ensureCatalog(spark)
    UserIngestPipeline.appendToCatalog(parsed)
    assert(spark.sql("SELECT count(*) FROM profiles.users").head().getLong(0) === n + 2)
  }

  test("corrupt records are quarantined, not fatal") {
    import spark.implicits._
    val parsed = UserIngestPipeline.parse(Seq(good, truncated).toDF("value"))
    val corrupt = UserIngestPipeline.corruptRecords(parsed).collect()
    assert(corrupt.length === 1 && corrupt.head.getString(0).startsWith("""{"full_name": "Broken"""))
    assert(UserIngestPipeline.cleanRecords(parsed).count() === 1)
  }
}
