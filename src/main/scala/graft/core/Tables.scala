package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver corpus (TESTDATA.md / FIXTURES.md §2).
  *
  * Tables are plain Parquet directories; the scan is a standard
  * `FileSourceScanExec`, so Catalyst predicate pushdown / column pruning /
  * partition pruning apply for free. At 100 TB these paths would be
  * partitioned directories (e.g. orders by month) and everything downstream
  * is unchanged — the loaders deliberately expose nothing but a DataFrame.
  */
object Tables {
  /** Small dimension tables: always broadcast-eligible at any scale
    * (region=5 rows, nation=25 rows — fixed-size in TPC-H regardless of SF).
    */
  val broadcastable: Set[String] = Set("region", "nation")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** events.parquet has shipped with two physical ts encodings across
    * fixture generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * only accepts as a long via the legacy conf, set for every session in
    * `GraftSession.SessionConf`) and plain TIMESTAMP(MICROS)
    * without isAdjustedToUTC (which Spark reads as TIMESTAMP_NTZ). Both are
    * normalized to one shape — a session-zoned microsecond TIMESTAMP — so
    * every downstream operator and the DuckDB oracle (session TZ pinned to
    * UTC; GraftSession/GraftTestSpark) see identical instants either way.
    */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      // nanos-as-long: integer DIV, not `/` — double division loses 1us at
      // 2024-epoch magnitude
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      // naive micros: reinterpret the wall-clock as UTC (lossless under the
      // pinned-UTC session; keeps window()/watermark semantics identical to
      // the nanos-era pipeline)
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      // already session-zoned micros: the normalized shape, pass through
      case TimestampType => raw
      // fail FAST on a third encoding (e.g. INT96 also lands on
      // TimestampType upstream of the vectorized reader, but an entirely
      // new fixture generation could ship anything): silently passing an
      // unnormalized ts through would surface only as downstream oracle
      // hash mismatches, the worst possible diagnostic
      case other => throw new IllegalStateException(
        s"events.ts has unexpected parquet-decoded type $other; known fixture " +
          "encodings are nanos-as-long and naive micros — add an explicit " +
          "normalization case before trusting downstream event-time semantics")
    }
  }
}
