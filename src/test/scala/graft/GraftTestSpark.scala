package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared session for every suite (sbt forks a single test JVM). */
object GraftTestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.functions.GraftExtensions)
      .config(graft.core.GraftSession.SessionConf)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // PlanSnapshotSpec: scan metadata (DataFilters/PushedFilters) is
      // truncated at this many RAW chars — raw expression ids lengthen as
      // the shared session ages (#123 vs #45231), so the default 100 made
      // the post-normalization truncation point drift between runs. Large
      // enough = never truncate = stable snapshots.
      .config("spark.sql.maxMetadataStringLength", "100000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  /** Every registered query's frame at [[sf]], built at most once per test
    * JVM and shared by PlanSnapshotSpec (reads its executed plan) and
    * QueriesSmokeSpec (counts it): building a frame runs the eager queries'
    * work (lake laydowns, stream replays), which would otherwise run twice.
    * A build that throws is not cached, so both suites report it.
    */
  private val frames = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def registryFrame(name: String): DataFrame =
    frames.computeIfAbsent(name, n => SparkEntry.queries(n)(spark, sf))

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
