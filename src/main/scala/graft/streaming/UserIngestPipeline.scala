package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The reference ingestion pipeline, Spark-native (SURVEY §1-§3).
  *
  * Reference shape (cited to /root/reference):
  *   - Kafka topic of flat JSON user records, schema declared not inferred
  *     (spark-streaming.py:159-166);
  *   - `CAST(value AS STRING)` -> `from_json` -> `data.*` flatten
  *     (spark-streaming.py:169-171);
  *   - per-micro-batch append to a keyed table via foreachBatch
  *     (spark-streaming.py:180-197, 216-221).
  *
  * Deliberate fixes of the reference's two latent defects (SURVEY §1.2):
  *   1. postcode type drift (string JSON -> LongType) is an explicit
  *      PERMISSIVE-parse policy with a corrupt-record side channel — bad
  *      records are captured, never kill the query (poison-pill tolerance,
  *      SURVEY §2.3);
  *   2. the missing `user_id` primary key is derived engine-side from the
  *      record's payload ([[userId]]), so a replayed or re-sent record gets
  *      the same key and a keyed upsert can absorb it, which a random key
  *      never allows.
  *
  * Scale: the whole plan is shuffle-free (scan -> project -> parse ->
  * project -> sink), so it pipelines at source parallelism on any cluster;
  * checkpointing (reference omits it) makes restarts exactly-once into an
  * idempotent keyed sink.
  */
object UserIngestPipeline {

  /** Wire schema: spark-streaming.py:159-166, plus the corrupt-record
    * capture column — with one deliberate divergence. The reference declares
    * postcode as LongType directly; the producer emits it as a JSON STRING
    * (kafka-streamer.py:29), and Spark's JSON parser treats string->long as
    * a parse failure, so the reference's schema corrupts EVERY record (whole
    * row nulled under PERMISSIVE), not just alphanumeric postcodes. We parse
    * the wire value as string and apply the long cast as an explicit,
    * tested policy in [[parse]]: numeric -> long, alphanumeric -> null
    * (SURVEY §1.2 defect 1, done on purpose).
    */
  val userSchema: StructType = StructType(Seq(
    StructField("full_name", StringType),
    StructField("gender", StringType),
    StructField("address", StringType),
    StructField("postcode", StringType),
    StructField("email", StringType),
    StructField("phone", StringType),
    StructField("_corrupt_record", StringType)))

  /** The `user_id` of a record: `java.util.UUID.nameUUIDFromBytes` of its
    * UTF-8 payload (RFC 4122 version 3: the MD5 of the bytes with the
    * version nibble set to 3 and the variant bits to 10), written with Spark
    * built-ins so its generated code is the same in every micro-batch.
    * `uuid()` cannot serve: streaming gives it a new seed every micro-batch
    * and codegen writes the seed into the class, so every batch would
    * compile a new one. The key is over the payload, not the source
    * position, because a producer retry re-sends the same payload at a new
    * offset and only a content key lets an upsert absorb it.
    */
  private val userId: Column = {
    val h = "md5(CAST(value AS BINARY))"
    expr(s"""concat_ws('-', substr($h, 1, 8), substr($h, 9, 4), '3' || substr($h, 14, 3),
      |  substr('89ab', CAST(conv(substr($h, 17, 1), 16, 10) AS INT) % 4 + 1, 1) || substr($h, 18, 3),
      |  substr($h, 21, 12))""".stripMargin)
  }

  /** Kafka-shaped (binary `value`) or raw-string stream -> flat typed rows.
    * Mirrors R8-R10 + the content-derived `user_id` key (R14 fix).
    */
  def parse(raw: DataFrame): DataFrame = {
    val stringified =
      if (raw.columns.contains("value")) raw.selectExpr("CAST(value AS STRING) AS value")
      else raw.toDF("value")
    stringified
      .select(from_json(col("value"), userSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")).as("data"),
        userId.as("user_id"))
      .select("data.*", "user_id")
      // named cast policy: numeric -> long, alphanumeric -> null. try_cast,
      // because under ANSI mode (Spark 4 default) a plain cast would make
      // one UK postcode kill the whole query.
      .withColumn("postcode", expr("try_cast(postcode AS BIGINT)"))
  }

  /** Rows that failed schema parse (poison pills) — route to a quarantine
    * sink instead of failing the query.
    */
  def corruptRecords(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))

  /** Clean rows for the keyed sink (drops the side channel). */
  def cleanRecords(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record")

  /** Micro-batch sink: parquet-append per batch via foreachBatch — the
    * offline stand-in for the reference's Cassandra append (R11/R12), same
    * `mode("append")` semantics behind the same call shape. Checkpointed,
    * unlike the reference (§3.2 step 6).
    */
  def writer(parsed: DataFrame, outDir: String, checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    cleanRecords(parsed).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir)
      }

  /** Drain-everything-then-stop runner (Trigger.AvailableNow is the
    * Spark-native form of the reference's 30s-burst-then-exit loop, R5/R6).
    */
  def runAvailableNow(parsed: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    writer(parsed, outDir, checkpointDir).trigger(Trigger.AvailableNow()).start()

  /** Batch-mode register of the ingested table for the ad-hoc query path
    * (reference entry point C, SURVEY §3.3).
    */
  def registerUsersTable(spark: SparkSession, outDir: String): Unit =
    spark.read.parquet(outDir).createOrReplaceTempView("users")

  /** DDL analogue of the reference's Cassandra keyspace/table setup
    * (create_keyspace spark-streaming.py:50-66, create_table :70-101):
    * session-catalog database + managed table, idempotent.
    */
  def ensureCatalog(spark: SparkSession): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS profiles")
    spark.sql(
      """CREATE TABLE IF NOT EXISTS profiles.users (
        |  full_name STRING, gender STRING, address STRING,
        |  postcode BIGINT, email STRING, phone STRING, user_id STRING)
        |USING parquet""".stripMargin)
  }

  /** Keyed append into the catalog table — the Cassandra-append analogue
    * (spark-streaming.py:193-197) against the session catalog.
    */
  def appendToCatalog(parsed: DataFrame): Unit =
    cleanRecords(parsed)
      .select("full_name", "gender", "address", "postcode", "email", "phone", "user_id")
      .write.mode("append").insertInto("profiles.users")
}
