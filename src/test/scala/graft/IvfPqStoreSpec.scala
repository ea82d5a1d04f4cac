package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityOps

/** The persisted IVF-PQ index store's swap protocol (e13): a reader must
  * see a COMPLETE v1 or a COMPLETE v2 at every crash instant of the
  * rebuild, and the post-swap serve must equal the in-memory rebuild —
  * the read-back path (parquet round-trip + Hive `cell` re-discovery)
  * is part of what the kill matrix certifies.
  */
class IvfPqStoreSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val sf = GraftTestSpark.sf

  private def embs = graft.core.Tables.load(spark, sf, "embeddings")

  private def cur = SimilarityOps.churnedView(embs)

  /** e10's read path over an index, against a given refine corpus. */
  private def serve(idx: SimilarityOps.IvfPqIndex, corpus: DataFrame): Seq[String] =
    SimilarityOps.ivfpqServeRefined(corpus, idx, corpus)
      .collect().map(_.toString).sorted.toSeq

  test("kill matrix: every crash instant of the rebuild leaves a servable store") {
    val base = GraftTestSpark.tmpDir("ivfpq_store_kill_")
    val idx1 = SimilarityOps.ivfpqBuild(embs)
    SimilarityOps.writeIndexVersion(spark, base, idx1, 1)
    val v1Expected = serve(SimilarityOps.readCurrentIndex(spark, base)._2, embs)

    val v2Expected = serve(SimilarityOps.ivfpqBuild(cur), cur)

    for (point <- Seq("staged", "complete", "published")) {
      val boom = intercept[RuntimeException] {
        SimilarityOps.writeIndexVersion(spark, base, SimilarityOps.ivfpqBuild(cur), 2,
          faultInjector = p =>
            if (p == point) throw new RuntimeException(s"injected store crash at $p"))
      }
      assert(boom.getMessage.contains(point))
      // every crash instant: the pointer still serves the COMPLETE v1
      val (ver, idx) = SimilarityOps.readCurrentIndex(spark, base)
      assert(ver === 1, s"after a '$point' crash the pointer must still name v1")
      assert(serve(idx, embs) === v1Expected,
        s"serve after a '$point' crash must be byte-stable v1 output")
      // clean the published-but-unflipped survivor so each point starts
      // from its own crash shape (except 'published', where adoption is
      // exactly what the retry path must exercise — leave it for the end)
      if (point != "published") {
        val v2dir = java.nio.file.Paths.get(base, "v2")
        assert(!java.nio.file.Files.exists(v2dir) ||
          java.nio.file.Files.exists(v2dir.resolve("_COMPLETE")),
          "a visible v2 directory must always be complete")
      }
    }

    // retry after the 'published' crash: adopt the complete v2 and flip
    SimilarityOps.writeIndexVersion(spark, base, SimilarityOps.ivfpqBuild(cur), 2)
    val (ver, idx) = SimilarityOps.readCurrentIndex(spark, base)
    assert(ver === 2)
    assert(serve(idx, cur) === v2Expected,
      "post-swap read-back serve must equal the in-memory rebuild")
    graft.streaming.ReplayHarness.cleanupScratch(java.nio.file.Paths.get(base))
  }

  test("pointer-less store (crash between publish and first flip) serves highest complete") {
    val base = GraftTestSpark.tmpDir("ivfpq_store_noptr_")
    SimilarityOps.writeIndexVersion(spark, base, SimilarityOps.ivfpqBuild(embs), 1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(base, "CURRENT"))
    val (ver, idx) = SimilarityOps.readCurrentIndex(spark, base)
    assert(ver === 1)
    assert(serve(idx, embs).nonEmpty)
    graft.streaming.ReplayHarness.cleanupScratch(java.nio.file.Paths.get(base))
  }

  test("recall vs drift: the retrained index matches or beats stale-quantizer serving") {
    // exact ground truth on the CURRENT view
    val c = cur.selectExpr("vec_id", "embedding",
      "vec_dot(embedding, embedding) AS sq").cache()
    val q = c.filter(col("vec_id") < 3)
      .selectExpr("vec_id AS qid", "embedding AS qemb", "sq AS qsq")
    val exact = c.join(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .selectExpr("qid", "vec_id AS doc_id",
        "qsq + sq - 2 * vec_dot(qemb, embedding) AS dist")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(round(col("dist"), 4), col("doc_id"))
    val truth = exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= SimilarityOps.PqTopK)
      .select("qid", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    def recallOf(df: DataFrame): Double = {
      val got = df.select("qid", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }

    // stale path: e12's serving shape (v1 quantizers + tombstone mask)
    val stale = recallOf(SimilarityOps.ivfpqUpsertRetrieve(embs))
    // retrained path: e13's rebuilt v2
    val retrained = recallOf(SimilarityOps.ivfpqRebuildSwapRetrieve(spark, embs))
    c.unpersist()
    info(f"recall@${SimilarityOps.PqTopK} stale=$stale%.3f retrained=$retrained%.3f")
    assert(retrained >= 0.8, "retrained index must keep e10's refine-recovered recall")
    assert(retrained >= stale - 1e-9,
      "a full re-train on the current view must not lose recall vs stale quantizers")
  }
}
