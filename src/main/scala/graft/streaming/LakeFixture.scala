package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The lake fixture every lake-verb row shares (f11-f22, st32-st51, the
  * lake ScaleProbe rungs): how a fixture lake is laid down, which rows one
  * merge changes, and the census the oracle SQL mirrors. A fixture change
  * is made here, once; the oracle SQL strings that mirror these decisions
  * stay with their rows.
  */
private[graft] object LakeFixture {

  /** Fixture file target: small enough that compaction sweeps and merges
    * genuinely rewrite multi-file leaves at fixture scale; production
    * keeps the 128 MiB default.
    */
  val TargetFileBytes: Long = 512L << 10

  /** The production sink ([[LakeSink.datePartitioned]]) at the fixture's
    * file target, sweeping leaves of two or more files every
    * `compactEvery` batches.
    */
  def fixtureSink(lakeDir: String, compactEvery: Long,
      faultInjector: (Long, String) => Unit = (_, _) => ()): (DataFrame, Long) => Unit =
    LakeSink.datePartitioned(lakeDir, compactEvery = compactEvery,
      targetFileBytes = TargetFileBytes, minFilesToCompact = 2,
      faultInjector = faultInjector)

  /** The id-interleaved lay-down: commits the slice `event_id % m == i` as
    * batch `i` of `commit`, for each `i` in `ids` — every slice touches
    * every date leaf, so leaves accumulate one file per batch.
    */
  def layDown(events: DataFrame, m: Int, ids: Range)(commit: (DataFrame, Long) => Unit): Unit =
    ids.foreach(i => commit(events.filter(pmod(col("event_id"), lit(m)) === i), i.toLong))

  /** [[layDown]] through [[LakeSink.appendBatch]] with claimed commit id `i`. */
  def layDown(spark: SparkSession, lakeDir: String, events: DataFrame, m: Int,
      ids: Range): Unit =
    layDown(events, m, ids) { (slice, i) =>
      LakeSink.appendBatch(spark, lakeDir, slice, commitId = Some(i)): Unit
    }

  /** One merge's change classes as `(updates, inserts, deletes)`: every
    * `id % 10 == 7` row updated in place (value +1000, type `updated`), a
    * copy of every `id % 10 == 2` row inserted under a +10M-shifted key
    * (value x2, type `inserted`), and every `id % 10 == 3` row deleted
    * (as `(event_id, ts)` keys). Updates and deletes are restricted to
    * `scope` (the rows the target holds); inserts are not.
    */
  def changeSet(events: DataFrame, scope: Column = lit(true))
      : (DataFrame, DataFrame, DataFrame) = {
    val updates = events.filter(scope && pmod(col("event_id"), lit(10)) === 7)
      .withColumn("value", col("value") + 1000.0)
      .withColumn("event_type", lit("updated"))
    val inserts = events.filter(pmod(col("event_id"), lit(10)) === 2)
      .withColumn("event_id", col("event_id") + 10000000L)
      .withColumn("value", col("value") * 2.0)
      .withColumn("event_type", lit("inserted"))
    val deletes = events.filter(scope && pmod(col("event_id"), lit(10)) === 3)
      .select("event_id", "ts")
    (updates, inserts, deletes)
  }

  /** The census the oracle SQL mirrors: per `keys`, the row count, the
    * value total to the cent and the event-id checksum.
    */
  def census(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"),
        sum(col("event_id")).as("id_checksum"))

  /** The file names in each `event_date=` leaf of `lakeDir` that `keep`
    * accepts — the layout a zero-copy or merge-on-read verb must leave
    * byte-identical.
    */
  def leafFiles(spark: SparkSession, lakeDir: String,
      keep: String => Boolean = _ => true): Map[String, Set[String]] = {
    val root = new org.apache.hadoop.fs.Path(lakeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("event_date="))
      .map(l => l.getPath.getName -> fs.listStatus(l.getPath).toSeq
        .filter(f => f.isFile && keep(f.getPath.getName))
        .map(_.getPath.getName).toSet)
      .toMap
  }
}
