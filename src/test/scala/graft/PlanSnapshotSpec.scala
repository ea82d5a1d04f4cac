package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan snapshots for EVERY registered query, extending
  * PlanShapeSpec's targeted guards to the whole registry: the initial
  * physical plan (pre-AQE, deterministic) is normalized and compared to the
  * committed snapshot under plans/. A failing diff means the plan shape
  * changed — broadcast became shuffle, a pushdown stopped firing, an extra
  * exchange appeared — which is exactly the class of regression a green
  * row-level result would hide. Re-bless intentional changes with
  * GRAFT_UPDATE_PLANS=1 sbt test and review the plans/ diff in the commit.
  */
class PlanSnapshotSpec extends AnyFunSuite {
  private val snapDir = new File("plans")

  /** Strip run-variant noise (expression ids, codegen stage ids, paths,
    * stats) so the snapshot captures SHAPE: operators, join strategies,
    * exchanges, pushed filters, read schemas.
    */
  private def normalize(plan: String): String = plan
    .replaceAll("#\\d+L?", "#x")
    // the with-expression counter is session-global, so the id depends on
    // how many queries ran before this one in the JVM — pure run-order noise
    .replaceAll("_common_expr_\\d+", "_common_expr_x")
    .replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$x")
    // identity hashCodes print as 1-8 hex chars; {6,} let a 5-char hash
    // (~1/16 of runs) through the normalizer — match any length
    .replaceAll("@[0-9a-f]{1,8}\\b", "@x")
    .replaceAll("\\*\\(\\d+\\)", "*(n)")
    .replaceAll("\\[id=#x\\]", "")
    .replaceAll("file:[^\\s,\\]\\)]*", "file:x")
    .replaceAll("Location: [^\\n]*", "Location: x")
    .replaceAll("Location\\s+\\w+\\([^)]*\\)\\[[^\\]]*\\]", "Location x")
    .replaceAll("InMemoryFileIndex\\([^)]*\\)", "InMemoryFileIndex(x)")
    .replaceAll(", \\d+ entries", ", n entries")
    .trim + "\n"

  /** Queries whose full plan STRING is not stable across JVMs: d1 and q28
    * each compute two countDistincts, and RewriteDistinctAggregates' Expand
    * assigns the gid per distinct-expression-set in hash order, which can
    * swap the two branches between JVMs. These are pinned at OPERATOR-TREE
    * granularity instead (node names + structure, no expressions) — still
    * catches a broadcast turning into a shuffle or a new exchange appearing,
    * without the expression-order noise. Everything else is byte-exact.
    */
  private val shapeOnlyQueries =
    Set("d1_exact_dedup_census", "q28_approx_distinct")

  /** Operator tree only: one node name per line, children indented. AQE
    * hides the pre-execution plan from `children`; descend explicitly.
    */
  private def shapeOnly(p: org.apache.spark.sql.execution.SparkPlan): String = {
    def go(n: org.apache.spark.sql.execution.SparkPlan, d: Int): Seq[String] = n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        (("  " * d) + a.nodeName) +: go(a.initialPlan, d + 1)
      case _ =>
        (("  " * d) + n.nodeName) +: n.children.flatMap(go(_, d + 1))
    }
    go(p, 0).mkString("\n") + "\n"
  }

  SparkEntry.registry.sortBy(_.name).foreach { q =>
    test(s"plan snapshot: ${q.name}") {
      val exec = GraftTestSpark.registryFrame(q.name).queryExecution.executedPlan
      val plan =
        if (shapeOnlyQueries(q.name)) shapeOnly(exec)
        else normalize(exec.toString)
      val f = new File(snapDir, s"${q.name}.txt")
      if (sys.env.contains("GRAFT_UPDATE_PLANS") || !f.exists()) {
        snapDir.mkdirs()
        Files.write(Paths.get(f.getPath), plan.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      } else {
        val expected = new String(Files.readAllBytes(Paths.get(f.getPath)), "UTF-8")
        if (expected != plan) {
          // dump the offender for diffing (target/, not committed)
          val failed = new File("target/failed-plans")
          failed.mkdirs()
          Files.write(Paths.get(s"target/failed-plans/${q.name}.txt"),
            plan.getBytes("UTF-8"),
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        }
        assert(expected == plan,
          s"physical plan for ${q.name} changed vs plans/${q.name}.txt (actual dumped to " +
            s"target/failed-plans/${q.name}.txt) — review the shape change; " +
            "if intentional, re-bless with GRAFT_UPDATE_PLANS=1")
      }
    }
  }
}
