package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs end-to-end at sf0.001 (value equality vs the
  * DuckDB oracle is the driver's gate + tools/selfcheck.py; this guards
  * against runtime regressions offline).
  */
class QueriesSmokeSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name runs at sf0.001") {
      assert(GraftTestSpark.registryFrame(name).count() >= 0)
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("q28 approx distinct counts land within the HLL++ error envelope") {
    // Since round 6 the bound IS the oracle contract: q28 emits exact
    // counts + a within-5*rsd verdict per sketch and the DuckDB gate
    // asserts the verdict literally. This is the fast offline replica.
    val row = graft.functions.AggregatorOps.q28.fn(spark, GraftTestSpark.sf).head()
    assert(row.getString(2) === "within_bound", s"orders sketch out of bound: $row")
    assert(row.getString(3) === "within_bound", s"parts sketch out of bound: $row")
  }

  test("q39 approx percentiles land within 2% of the exact values") {
    // Since round 6 the 2% bound IS the oracle contract (per-group verdict
    // columns, asserted literally by the DuckDB gate); fast offline replica.
    graft.operators.MiscQueries.q39.fn(spark, GraftTestSpark.sf).collect().foreach { r =>
      assert(r.getString(2) === "within_bound", s"median sketch out of bound: $r")
      assert(r.getString(3) === "within_bound", s"p95 sketch out of bound: $r")
    }
  }

  test("q43 correlated subquery agrees with q24's window formulation") {
    // two independent phrasings of "above nation average" — decorrelated
    // aggregate+join vs window — must select the same customers
    val sub = graft.operators.RelationalQueries.q43.fn(spark, GraftTestSpark.sf)
      .collect().map(_.getLong(0)).toSet
    val win = graft.operators.RelationalQueries.q24.fn(spark, GraftTestSpark.sf)
      .collect().map(_.getLong(0)).toSet
    assert(sub.nonEmpty && sub === win)
  }

  test("q49 arg-max compaction equals q37's window formulation") {
    // same semantics, agg vs window plan — and the determinism precondition:
    // max_by needs tie-free ordering keys
    val ev = graft.core.Tables.load(spark, GraftTestSpark.sf, "events")
    assert(ev.count() === ev.select("user_id", "ts").distinct().count(),
      "(user_id, ts) ties would make max_by nondeterministic")
    def rows(q: graft.core.Q) = q.fn(spark, GraftTestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(rows(graft.operators.ReshapeQueries.q49) ===
      rows(graft.operators.ReshapeQueries.q37))
  }

  test("registry names are unique (duplicates would vanish in toMap)") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.length === names.length,
      s"duplicate query names: ${names.diff(names.distinct).distinct}")
  }

  test("README documents the registry counts (they drifted in rounds 4+5)") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    // The counts line is GENERATED (graft.SyncCounts rewrites the marked
    // region from the registry); this guard proves the regeneration ran.
    assert(readme.contains(SyncCounts.countsLine),
      s"README counts are stale: run `sbt \"runMain graft.SyncCounts\"` " +
        s"(expected: ${SyncCounts.countsLine})")
  }
}
