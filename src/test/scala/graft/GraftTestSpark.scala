package graft

import org.apache.spark.sql.SparkSession

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

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
