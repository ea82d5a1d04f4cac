package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** d14's decontamination certificate, moved off the in-query `require`
  * actions (r16 shape: two extra full jobs over the eval split per
  * evaluation) and onto the observe channel (VERDICT r16 item 6):
  *
  *   - `clean_leaks` rides the query's own final pass as a
  *     CollectMetrics aggregate and must be 0 — this suite runs the
  *     registered query, captures the metric through the listener bus,
  *     and pins the value;
  *   - the split-straddle invariant (no source on both sides of the
  *     train/eval boundary) is structural — `split` is a pure function of
  *     `source` — and is re-proved here over the fixture instead of with
  *     a per-evaluation corpus scan.
  */
class DedupCertificateSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  test("d14 clean-leak certificate rides the observe channel and reads 0") {
    @volatile var leaks: Option[Long] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("d14_certificate").foreach { row =>
          leaks = Some(row.getAs[Long]("clean_leaks"))
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = DedupOps.d14.fn(spark, GraftTestSpark.sf)
      out.write.format("noop").mode("overwrite").save()
      // QueryExecutionListener fires on the async listener bus; poll briefly
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (leaks.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(leaks.contains(0L),
        s"d14 certificate: expected clean_leaks=0 observed metric, got $leaks")
    } finally spark.listenerManager.unregister(listener)
  }

  test("d14 certificate holds on an empty corpus instead of aborting") {
    val dir = GraftTestSpark.tmpDir("graft_d14_empty_")
    try {
      graft.core.Tables.load(spark, GraftTestSpark.sf, "documents").limit(0)
        .write.parquet(s"$dir/documents.parquet")
      assert(DedupOps.d14.fn(spark, dir).collect().isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("d14 split-straddle invariant is structural: no source on both sides") {
    val docs = graft.core.Tables.load(spark, GraftTestSpark.sf, "documents")
    val straddlers = docs
      .withColumn("split",
        when(expr(graft.core.PortableHash.spark("source") + " % 10") < 8, "train")
          .otherwise("eval"))
      .groupBy(col("source"))
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1)
    assert(straddlers.isEmpty,
      "group split leaked: a source appears on both sides of the boundary")
  }
}
