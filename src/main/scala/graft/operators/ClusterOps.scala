package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}

/** Transitive near-duplicate clustering — the step a production dedup
  * pipeline runs AFTER pair generation: near-dup pairs (d7's capped SimHash
  * ham <= 3 LSH candidates) are closed into connected components, each
  * component elects a canonical keeper (min doc_id), and the corpus is
  * scrubbed down to keepers + singletons. d8 does this for EXACT duplicates
  * with one window; near-dup similarity is not transitive, so the industry
  * convention (and the reference point for MinHash dedup at scale) is the
  * connected-component closure of the pair graph.
  *
  * Algorithm: iterative hash-min label propagation over the undirected pair
  * graph. comp(v) starts at v; each round replaces it with the min over the
  * closed neighborhood; the fixpoint labels every node with the smallest
  * doc_id reachable from it. Each round is one equi-join keyed on the node
  * id plus one partial+final min-aggregation — both shuffle on
  * high-cardinality ids, so every round scales like any keyed agg; the
  * frontier is localCheckpoint'ed each round so lineage (and the plan fed to
  * each job) stays flat instead of growing with the iteration count.
  * Each round ends with a path-halving pointer jump (comp(v) := comp(comp(v)))
  * so label distance squares per round — O(log diameter) rounds total, the
  * same round bound as the published large-star/small-star algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC '14) with a simpler per-round plan (join + min-agg + self-join).
  *
  * The per-round convergence probe (`isEmpty` of the improved-label
  * frontier) and the checkpoint materializations are scalar driver-side
  * control flow over distributed jobs — no row data is ever collected.
  *
  * Production materialization note: `localCheckpoint` keeps the frontier's
  * blocks in executor storage with NO lineage — correct and fastest in a
  * single-JVM run, but on a real cluster one lost executor makes the
  * frontier unrecoverable and the whole O(log d) iteration restarts from
  * the edges. A cluster deployment should set a DFS checkpoint dir and
  * `checkpoint()` the frontier every few rounds (or rewrite it to a table),
  * so recovery replays at most the rounds since the last reliable cut —
  * the standard iterate-with-periodic-checkpoint discipline (same guidance
  * as [[graft.operators.SimilarityOps.bm25Retrieve]]'s index).
  */
object ClusterOps {

  /** Fixpoint guard: hash-min needs one round per hop of graph diameter.
    * 64 rounds covers any component whose diameter a dedup pipeline could
    * plausibly produce (a 64-hop chain of pairwise near-dups); hitting the
    * cap means the input graph is pathological and the labels would be
    * WRONG, so that is an error, not a truncation.
    */
  val MaxRounds = 64

  /** Connected components of the undirected graph given as (a, b) pairs.
    * Returns (doc_id, component) for every node that appears in a pair,
    * where component = min doc_id of the node's component.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // symmetrize in ONE pass over the pair relation: for c1/c2 that relation
    // is the whole LSH pair-generation pipeline, and a union of two
    // projections would evaluate it twice (optimizer exchange reuse is not
    // guaranteed). inline() emits both edge directions from a single
    // evaluation, and the one checkpoint materializes the result for the
    // iteration loop.
    val edges = pairs
      .selectExpr("inline(array(struct(a AS u, b AS v), struct(b AS u, a AS v)))")
      .localCheckpoint()
    // round-0 fused into init: comp(v) = min(v, min neighbor) directly off
    // the edge list — one agg instead of a distinct plus a full first round
    var comp = edges.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u").as("node"), least(col("u"), col("mn")).as("comp"))
      .localCheckpoint()
    // the checkpointed frame whose blocks the loop supersedes each round —
    // released once the next round's checkpoint has materialized, so a
    // deep graph holds ONE frontier copy in executor storage, not one per
    // round (bpeTrain/mmrRerank's release discipline)
    var frontier = comp
    var round = 0
    while (round < MaxRounds) {
      // min label over the closed neighborhood: every node is its own
      // neighbor via the comp join below (least(comp, nbrmin))
      val nbrMin = edges
        .join(comp.select(col("node").as("v"), col("comp").as("vcomp")), Seq("v"))
        .groupBy(col("u"))
        .agg(min(col("vcomp")).as("nbrmin"))
      val prop = comp
        .join(nbrMin.select(col("u").as("node"), col("nbrmin")), Seq("node"))
        .select(col("node"), least(col("comp"), col("nbrmin")).as("comp"),
          (col("nbrmin") < col("comp")).as("improved"))
        .localCheckpoint()
      // path halving (pointer jumping): comp(v) := comp(comp(v)). Labels are
      // node ids, so the label's own fresher label is one self-join away —
      // this squares the propagation distance per round, so convergence is
      // O(log diameter) rounds instead of O(diameter). The join keys by the
      // label value; labels skew toward component minima, but a component's
      // label side has ONE row per label (prop is keyed by node), so the
      // fan-out is bounded by component size — same bound as nbrMin's
      // groupBy, and AQE's skew split applies to both.
      val next = prop.as("a")
        .join(prop.select(col("node").as("pnode"), col("comp").as("pcomp")).as("b"),
          col("a.comp") === col("b.pnode"), "left")
        .select(col("a.node").as("node"),
          coalesce(col("b.pcomp"), col("a.comp")).as("comp"),
          (col("a.improved") ||
            coalesce(col("b.pcomp"), col("a.comp")) < col("a.comp")).as("improved"))
        .localCheckpoint()
      // `next` materialized eagerly from prop's blocks (and prop from the
      // old frontier's) — both superseded copies release now
      graft.core.Checkpoints.release(prop)
      graft.core.Checkpoints.release(frontier)
      frontier = next
      val done = next.filter(col("improved")).isEmpty
      // STATS TRUNCATION at the round boundary — localCheckpoint truncates
      // EXECUTION lineage but INHERITS the checkpointed plan's sizeInBytes
      // estimate (originalStats), and this loop's two joins then multiply
      // the previous round's estimate into the next one's: the BigInt
      // QUADRUPLES in digit count per executed round, and past ~12 rounds
      // Catalyst's stats visitor spends minutes per round multiplying
      // million-digit integers (found live: the c6 graph at one fixture SF
      // converges in more rounds than at another, and the extra rounds hit
      // this wall — the suite froze while the job itself was idle). The
      // public-API reset is an RDD boundary: createDataFrame over the
      // checkpointed rows drops originalStats, so the next round's
      // estimate restarts from defaultSizeInBytes — constant-size stats
      // per round forever, at the cost of one row-encode pass per read of
      // the frontier (proportional to the checkpoint write itself; the
      // intermediate prop/next frames inherit only this bounded base).
      comp = next.sparkSession.createDataFrame(next.rdd, next.schema)
        .select(col("node"), col("comp"))
      round += 1
      System.err.println(s"[cluster] hash-min round $round done=$done")
      if (done) {
        // the returned frame reads only the final frontier's blocks
        graft.core.Checkpoints.release(edges)
        return comp.select(col("node").as("doc_id"), col("comp").as("component"))
      }
    }
    graft.core.Checkpoints.release(edges)
    graft.core.Checkpoints.release(frontier)
    throw new IllegalStateException(
      s"connectedComponents did not converge in $MaxRounds rounds - graph diameter exceeds the guard")
  }

  /** DuckDB oracle for the same closure: min-label reachability as a
    * recursive CTE (the UNION dedups (node, comp) states, so the walk
    * terminates). Pair generation is [[DedupOps.duckSimhashCandCtes]]
    * verbatim — oracle and engine agree on the exact input graph.
    */
  private val duckComponentCtes: String =
    s"""${DedupOps.duckSimhashCandCtes},
       |pairs AS (SELECT a, b FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
       |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
       |walk(node, comp) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
       |  UNION
       |  SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.node),
       |comps AS (SELECT node AS doc_id, min(comp) AS component FROM walk GROUP BY node)""".stripMargin

  /** c1: near-dup components — every document that participates in a
    * ham <= 3 SimHash pair, labeled with its component id (min doc_id in the
    * component). On this corpus the closure is aggressive — SimHash-32 at
    * ham <= 3 over a tiny shared vocabulary chains most paired docs into one
    * giant component — which is exactly why a pipeline inspects the
    * component census before scrubbing (c2 reports the impact).
    */
  val c1 = Q(
    "c1_neardup_components",
    s"""WITH RECURSIVE $duckComponentCtes
       |SELECT doc_id, component FROM comps""".stripMargin) { (s, dir) =>
    connectedComponents(DedupOps.simhashNearDupPairs(s, dir))
  }

  /** c2: transitive scrub census — drop every non-keeper (doc_id != its
    * component min) and report corpus impact: total, dropped, kept. The
    * kept count exercises the actionable path — an anti join of the corpus
    * against the computed drop list (high-cardinality doc_id key; AQE
    * broadcasts the drop list while it measures small).
    */
  val c2 = Q(
    "c2_neardup_scrub",
    s"""WITH RECURSIVE $duckComponentCtes,
       |drops AS (SELECT doc_id FROM comps WHERE doc_id <> component)
       |SELECT 'n_docs' AS metric, count(*) AS n FROM documents
       |UNION ALL SELECT 'n_dropped', count(*) FROM drops
       |UNION ALL SELECT 'n_kept', (SELECT count(*) FROM documents d
       |  WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = d.doc_id))""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val comps = connectedComponents(DedupOps.simhashNearDupPairs(s, dir))
    val drops = comps.filter(col("doc_id") =!= col("component")).select("doc_id")
    val kept = docs.select("doc_id").join(drops, Seq("doc_id"), "left_anti")
    def counted(metric: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(metric).as("metric"), col("n"))
    counted("n_docs", docs)
      .union(counted("n_dropped", drops))
      .union(counted("n_kept", kept))
  }

  /** Cluster count for c3 (coarse semantic partitions of the corpus). */
  val KMeansK = 8

  /** DuckDB: sequential indexed double fold — same dot idiom as s1/s2. */
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, 64), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"

  /** c3: k-means (Lloyd) semantic clustering over the embedding corpus —
    * the partitioning step of SemDeDup-style semantic curation (cluster,
    * then dedup/select within clusters) and the centroid-training step
    * s2's IVF index consumes. Deterministic seeding (the k lowest vec_ids)
    * plus one full Lloyd round unrolled — assign to seeds, recompute
    * centroids, re-assign — so the oracle replays it CTE for CTE; the
    * census keys on integer id checksums, pinning the exact assignment.
    *
    * Float portability: distances are double (`vec_dot` folds float
    * elements in index order, exactly DuckDB's indexed list fold), but the
    * recomputed centroid means are CAST TO FLOAT — the per-element mean is
    * an unordered double sum whose ~1e-15 accumulation noise differs per
    * engine, and the float rounding grid (2^-24 relative) absorbs it.
    *
    * Scale shape: centroids are k bounded rows — broadcast by
    * construction (s2's pattern), never corpus-sized; assignment is a
    * map-side scored join + per-vector top-1 window; the centroid update
    * is a (cid, dim) partial+final hash agg, k*64 rows out. Every stage is
    * linear in corpus size; more Lloyd rounds repeat the same two jobs.
    */
  /** The k-means pipeline's DuckDB CTE chain (e → seeds → a1 → upd → c2 →
    * a2), shared verbatim by c3 and c4 so both oracles replay the IDENTICAL
    * clustering — `a2` is the final (vec_id, cid) assignment, `e` carries
    * each vector's squared norm.
    */
  private[operators] val duckKmeansCtes: String = duckKmeansCtesOver("embeddings")

  /** [[duckKmeansCtes]] parameterized on the corpus relation and an
    * optional training filter. `trainFilter`, a predicate on `vec_id`,
    * restricts the rows that seed and update the centroids (e11 trains on
    * the existing 80%), while `e` and the final assignment `a2` still cover
    * every row of `src`. e13 replays the chain over the post-churn view
    * (`cur`); every other consumer keeps the byte-identical `embeddings`
    * instantiation.
    */
  private[operators] def duckKmeansCtesOver(src: String, trainFilter: String = ""): String = {
    val where = if (trainFilter.isEmpty) "" else s" WHERE $trainFilter"
    s"""${duckSqCte("e", src)},
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cent,
       |    ${duckDot("embedding", "embedding")} AS csq
       |  FROM (SELECT vec_id, embedding FROM $src$where ORDER BY vec_id LIMIT $KMeansK)),
       |${duckNearestCte("a1", "e", "seeds", "s", where)},
       |upd AS (
       |  SELECT cid, i, avg(e.embedding[i])::FLOAT AS m
       |  FROM a1 JOIN e USING (vec_id), (SELECT unnest(generate_series(1, 64)) AS i)
       |  GROUP BY 1, 2),
       |c2 AS (
       |  SELECT cid, list(m ORDER BY i) AS cent,
       |    list_sum(list_transform(list(m ORDER BY i), x -> x::DOUBLE * x::DOUBLE)) AS csq
       |  FROM upd GROUP BY 1),
       |${duckNearestCte("a2", "e", "c2", "c")}""".stripMargin
  }

  /** `name(vec_id, embedding, sq)`: the vectors of `src` with their squared
    * norms. */
  private[operators] def duckSqCte(name: String, src: String): String =
    s"""$name AS (
       |  SELECT vec_id, embedding,
       |    ${duckDot("embedding", "embedding")} AS sq
       |  FROM $src)""".stripMargin

  /** `name(vec_id, cid)`: each row of `e` (read as alias `e`) assigned to its
    * nearest centroid of `cents` (`cid, cent, csq`, alias `c`) by squared
    * L2, ties to the smaller cid; `where` filters the assigned rows.
    */
  private[operators] def duckNearestCte(name: String, e: String, cents: String, c: String,
      where: String = ""): String =
    s"""$name AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, $c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY e.sq + $c.csq - 2 * ${duckDot("e.embedding", s"$c.cent")}, $c.cid) AS rn
       |    FROM $e, $cents $c$where) t WHERE rn = 1)""".stripMargin

  val c3 = Q(
    "c3_kmeans_semantic",
    s"""WITH $duckKmeansCtes
       |SELECT cid, count(*)::BIGINT AS n_vecs, sum(vec_id)::BIGINT AS id_checksum
       |FROM a2 GROUP BY 1""".stripMargin) { (s, dir) =>
    kmeansAssign(Tables.load(s, dir, "embeddings"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_checksum"))
  }

  /** c3's pipeline over any `embeddings`-shaped relation, returning the
    * final (vec_id, cid) assignment — the c3 scale rung (BENCH_NOTES.md)
    * ran it on multiplied corpora (the centroid count stays k; only the
    * assignment and update stages grow with the corpus), and c4 consumes
    * the assignment for within-cluster semantic dedup.
    */
  private def withSq(embs: DataFrame): DataFrame =
    embs.selectExpr("vec_id", "embedding", "vec_dot(embedding, embedding) AS sq")

  /** Nearest centroid per vector: scored broadcast join + argmin
    * AGGREGATE. `cents` is (cid, cent, csq) — bounded rows by
    * construction. min_by over struct(dist2, cid) selects exactly the row
    * the old top-1 window's orderBy(dist2, cid) ranked first, but as a
    * partial+final hash aggregate (guide §2.3): the k-way scored fan-out
    * collapses map-side to one row per vec_id BEFORE the exchange, where
    * the r16 window shape shuffled all k scored rows and sorted them.
    */
  private def assignTo(e: DataFrame, cents: DataFrame): DataFrame =
    e.join(broadcast(cents))
      .selectExpr("vec_id", "cid", "sq + csq - 2 * vec_dot(embedding, cent) AS dist2")
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("dist2"), col("cid"))).as("cid"))
      .select("vec_id", "cid")

  /** The (cid, cent, csq) centroid relation after c3's one unrolled Lloyd
    * round: deterministic seeds (k lowest vec_ids), assign, recompute
    * float-cast means.
    */
  def finalCentroids(embs: DataFrame, k: Int = KMeansK): DataFrame = {
    val e = withSq(embs)
    // single-partition by construction AND bounded: the window runs over the
    // k-row limit() result only. partitionBy(lit) instead of a bare orderBy
    // so Spark's "no partition defined for Window" warning (aimed at
    // unbounded relations) doesn't fire on every run and bury real warnings.
    val wSeed = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("vec_id"))
    val seeds = e.orderBy(col("vec_id")).limit(k)
      .select((row_number().over(wSeed) - 1).as("cid"), col("embedding").as("cent"))
      .selectExpr("cid", "cent", "vec_dot(cent, cent) AS csq")
    val a1 = assignTo(e, seeds)
    a1.join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("cid"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("cid"), col("i")).agg(avg(col("x")).cast("float").as("m"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(i, m))), s -> s.m)").as("cent"))
      .selectExpr("cid", "cent", "vec_dot(cent, cent) AS csq")
  }

  def kmeansAssign(embs: DataFrame, k: Int = KMeansK): DataFrame =
    assignTo(withSq(embs), finalCentroids(embs, k))

  /** [[kmeansAssign]] against an ALREADY-MATERIALIZED centroid relation —
    * for callers that hold [[finalCentroids]] pinned (ivfpqBuild
    * checkpoints it): assignment reads the pinned rows instead of
    * re-running the whole seeded Lloyd train, which would otherwise
    * execute once per consumer of the assignment's lineage.
    */
  def kmeansAssignWith(embs: DataFrame, cents: DataFrame): DataFrame =
    assignTo(withSq(embs), cents)

  /** Cosine threshold above which two same-cluster vectors count as
    * semantic duplicates in c4 (matches e1's corpus-calibrated threshold —
    * this synthetic corpus has few very-high-cosine pairs).
    */
  val SemDedupCos = 0.4

  /** c4: SemDeDup-style semantic dedup — the selection step that follows
    * c3's clustering (Abbas et al., "SemDeDup", 2023: cluster the corpus,
    * then drop near-identical vectors WITHIN each cluster, never across the
    * whole corpus). The keeper rule is deterministic and order-independent:
    * a vector is dropped iff some same-cluster vector with a smaller vec_id
    * sits within cos >= $SemDedupCos of it — d8's min-id keeper convention
    * applied to the semantic pair graph. Census per cluster: population,
    * dropped count, and an exact integer checksum of the kept ids, so the
    * oracle pins the exact selection.
    *
    * Scale shape: this is WHY SemDeDup clusters first — the pair scan is an
    * equi self-join on cid, so its cost is Σ|cluster|²/2 instead of N²/2.
    * At fixture scale k=8 keys is coarse (one cluster is one shuffle
    * partition's work); the production setting grows k ∝ N (SemDeDup uses
    * k ~ 10^5 for 10^8 docs) which bounds per-cluster population AND makes
    * cid a high-cardinality shuffle key — same plan, no skew. Embeddings
    * ride the cid shuffle once; the census join on vec_id is AQE-adaptive
    * (the drop list measures small, nothing corpus-sized is hinted).
    */
  val c4 = Q(
    "c4_semdedup",
    s"""WITH $duckKmeansCtes,
       |x AS (
       |  SELECT a2.cid, a2.vec_id, e.embedding, e.sq
       |  FROM a2 JOIN e USING (vec_id)),
       |p AS (
       |  SELECT x.cid, y.vec_id AS b,
       |    ${duckDot("x.embedding", "y.embedding")} / (sqrt(x.sq) * sqrt(y.sq)) AS cos
       |  FROM x JOIN x y ON x.cid = y.cid AND x.vec_id < y.vec_id),
       |drops AS (SELECT DISTINCT b AS vec_id FROM p WHERE cos >= $SemDedupCos)
       |SELECT a2.cid, count(*)::BIGINT AS n_vecs,
       |  sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       |  sum(CASE WHEN d.vec_id IS NULL THEN a2.vec_id ELSE 0 END)::BIGINT
       |    AS kept_checksum
       |FROM a2 LEFT JOIN drops d USING (vec_id)
       |GROUP BY 1""".stripMargin) { (s, dir) =>
    semdedupCensus(Tables.load(s, dir, "embeddings"))
  }

  /** Super-cluster count for c5's two-level assignment (~sqrt(KMeansK)). */
  val HierSups = 3

  /** Supers probed per vector (s2's 2-cell probe convention): the standard
    * IVF recall knob — probing 2 of k1 supers roughly doubles the scored
    * candidates and repairs most super-boundary misassignments.
    */
  val HierProbes = 2

  /** Two-level (hierarchical) nearest-centroid assignment — the scale path
    * for the c4 tension measured in BENCH_NOTES: with k ∝ N clusters,
    * brute-force assignment scores N·k pairs (quadratic). Here the k
    * centroids are first grouped under k1 ~ sqrt(k) super-centroids (the k1
    * lowest-cid centroids — deterministic, like every seed rule in this
    * family); a vector scores the k1 supers, then only its super's
    * centroids: N·(k1 + k/k1) ~ 2N·sqrt(k) scored pairs. Deeper trees push
    * toward N·log k — this is exactly an IVF index over the centroids
    * themselves. The assignment is approximate at super boundaries
    * (ClusterOpsSpec pins the agreement rate vs exact); every step is
    * deterministic, so the oracle replays it.
    */
  def kmeansAssignHier(embs: DataFrame, k: Int = KMeansK, k1: Int = HierSups): DataFrame = {
    val e = withSq(embs)
    val cents = finalCentroids(embs, k).localCheckpoint()
    val sups = cents.orderBy(col("cid")).limit(k1)
      .select(col("cid").as("sup"), col("cent").as("scent"), col("csq").as("ssq"))
    // centroid -> super (k x k1 — tiny): argmin as a min_by aggregate
    // ([[assignTo]]'s discipline — min over struct(d, sup) == the old
    // window's orderBy(d, sup) rank 1; cent/csq are constant per cid so
    // the winner struct carries them)
    val csup = cents.join(broadcast(sups))
      .selectExpr("cid", "cent", "csq", "sup",
        "csq + ssq - 2 * vec_dot(cent, scent) AS d")
      .groupBy(col("cid"))
      .agg(min_by(struct(col("sup"), col("cent"), col("csq")),
        struct(col("d"), col("sup"))).as("w"))
      .select(col("w.sup").as("sup"), col("cid"),
        col("w.cent").as("cent"), col("w.csq").as("csq"))
    // vector -> super (N x k1)
    val wVec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d"), col("sup"))
    val vsup = e.join(broadcast(sups))
      .selectExpr("vec_id", "embedding", "sq", "sup",
        "sq + ssq - 2 * vec_dot(embedding, scent) AS d")
      .withColumn("rn", row_number().over(wVec)).filter(col("rn") <= HierProbes)
      .select("vec_id", "embedding", "sq", "sup")
    // vector -> nearest centroid WITHIN its super (N x k/k1 expected).
    // csup is k bounded rows (k << N always) — broadcast like c3's
    // centroids; the join key is sup, so the probe side never fans out.
    vsup.join(broadcast(csup), Seq("sup"))
      .selectExpr("vec_id", "cid", "sq + csq - 2 * vec_dot(embedding, cent) AS dist2")
      .groupBy(col("vec_id"))
      .agg(min_by(col("cid"), struct(col("dist2"), col("cid"))).as("cid"))
      .select("vec_id", "cid")
  }

  /** DuckDB replay of [[kmeansAssignHier]] on top of [[duckKmeansCtes]]'
    * final centroids (`c2`): super selection, centroid→super, vector→super,
    * within-super assignment — CTE for CTE.
    */
  private val duckHierCtes: String =
    s"""sups AS (
       |  SELECT cid AS sup, cent AS scent, csq AS ssq
       |  FROM c2 ORDER BY cid LIMIT $HierSups),
       |csup AS (
       |  SELECT sup, cid, cent, csq FROM (
       |    SELECT c.cid, c.cent, c.csq, s.sup,
       |      row_number() OVER (PARTITION BY c.cid
       |        ORDER BY c.csq + s.ssq - 2 * ${duckDot("c.cent", "s.scent")}, s.sup) AS rn
       |    FROM c2 c, sups s) t WHERE rn = 1),
       |vsup AS (
       |  SELECT vec_id, embedding, sq, sup FROM (
       |    SELECT e.vec_id, e.embedding, e.sq, s.sup,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY e.sq + s.ssq - 2 * ${duckDot("e.embedding", "s.scent")}, s.sup) AS rn
       |    FROM e, sups s) t WHERE rn <= $HierProbes),
       |a3 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY v.sq + c.csq - 2 * ${duckDot("v.embedding", "c.cent")}, c.cid) AS rn
       |    FROM vsup v JOIN csup c ON c.sup = v.sup) t WHERE rn = 1)""".stripMargin

  /** c5: hierarchical-assignment census — c3's census computed through the
    * two-level path, the measured answer to c4's N·k assignment cost (see
    * BENCH_NOTES). Oracle-pinned per-cluster counts and id checksums mean
    * the exact approximate-assignment output — including which vectors land
    * differently than exact assignment would — is reproduced by both
    * engines.
    */
  val c5 = Q(
    "c5_kmeans_hier_assign",
    s"""WITH $duckKmeansCtes,
       |$duckHierCtes
       |SELECT cid, count(*)::BIGINT AS n_vecs, sum(vec_id)::BIGINT AS id_checksum
       |FROM a3 GROUP BY 1""".stripMargin) { (s, dir) =>
    kmeansAssignHier(Tables.load(s, dir, "embeddings"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_checksum"))
  }

  /** c4's census pipeline from a given (vec_id, cid) assignment — shared by
    * the exact and hierarchical paths (the c45 scale rung in BENCH_NOTES.md
    * timed both).
    */
  def semdedupCensusFrom(assign: DataFrame, embs: DataFrame): DataFrame = {
    // one materialization of the assignment pipeline; reused by the pair
    // scan and the census (lineage, not an optimizer-dependent cache)
    val a = assign.localCheckpoint()
    val e = embs
      .selectExpr("vec_id", "embedding", "vec_dot(embedding, embedding) AS sq")
    val x = a.join(e, Seq("vec_id"))
    val drops = x.selectExpr("cid", "vec_id AS a_id", "embedding AS aemb", "sq AS asq")
      .join(x.selectExpr("cid", "vec_id AS b", "embedding AS bemb", "sq AS bsq"),
        Seq("cid"))
      .filter(col("a_id") < col("b"))
      .selectExpr("b", s"vec_dot(aemb, bemb) / (sqrt(asq) * sqrt(bsq)) AS cos")
      .filter(col("cos") >= SemDedupCos)
      .select(col("b").as("vec_id")).distinct()
      .withColumn("dropped", lit(1))
    a.join(drops, Seq("vec_id"), "left")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("dropped").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("dropped").isNull, col("vec_id")).otherwise(0L))
          .as("kept_checksum"))
  }

  /** c4's pipeline over any `embeddings`-shaped relation — the c4 scale
    * rung (BENCH_NOTES.md) ran it on multiplied corpora with `k` scaled
    * ∝ N (the production SemDeDup setting that bounds per-cluster
    * population).
    */
  def semdedupCensus(embs: DataFrame, k: Int = KMeansK): DataFrame =
    semdedupCensusFrom(kmeansAssign(embs, k), embs)

  /** c6: MUTUAL-kNN CLUSTERS over the embedding corpus — s4's distributed
    * k-NN graph composed with c1's O(log d) connected components: an edge
    * exists iff BOTH endpoints rank each other in their top-3 (the
    * mutuality filter is the standard density gate — one-directional
    * edges chain dissimilar regions through hubs; mutual edges require
    * agreement), then min-label components over the mutual graph and a
    * per-cluster census. This is the curation shape between pairwise
    * near-dup (d-family) and centroid clustering (c3): clusters emerge
    * from local neighborhood agreement, no k chosen up front. Scale: the
    * kNN graph is s4's salted code-shuffle build (never all-pairs; only
    * supers, codebooks, and the SDC pair table broadcast), the
    * mutuality filter is a self-join of the 3N-row edge list on the
    * reversed key (checkpointed once, joined once), components are the
    * pointer-jumping loop — every stage corpus-shuffled.
    */
  val c6 = Q(
    "c6_mutual_knn_clusters",
    s"""WITH RECURSIVE ${graft.operators.SimilarityOps.duckKnnJoinCtes},
       |mutual AS (
       |  SELECT k1.qid AS a, k1.neighbor AS b
       |  FROM knn k1 JOIN knn k2
       |    ON k2.qid = k1.neighbor AND k2.neighbor = k1.qid
       |  WHERE k1.qid < k1.neighbor),
       |medges AS (SELECT a AS u, b AS v FROM mutual UNION SELECT b, a FROM mutual),
       |walk(node, comp) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM medges) n
       |  UNION
       |  SELECT m.v, w.comp FROM walk w JOIN medges m ON m.u = w.node),
       |comps AS (SELECT node, min(comp) AS component FROM walk GROUP BY node)
       |SELECT component, count(*) AS n_members, sum(node)::BIGINT AS id_checksum
       |FROM comps GROUP BY 1""".stripMargin) { (s, dir) =>
    val knn = graft.operators.SimilarityOps
      .knnJoin(graft.core.Tables.load(s, dir, "embeddings"))
      .select(col("qid"), col("neighbor"))
      .localCheckpoint() // the IVF pipeline runs ONCE; the self-join reads blocks
    val mutual = knn.as("x")
      .join(knn.as("y"),
        col("x.qid") === col("y.neighbor") && col("x.neighbor") === col("y.qid"))
      .filter(col("x.qid") < col("x.neighbor"))
      .select(col("x.qid").as("a"), col("x.neighbor").as("b"))
    val comps = connectedComponents(mutual)
    graft.core.Checkpoints.release(knn)
    comps.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), sum(col("doc_id")).as("id_checksum"))
  }

  val all: Seq[Q] = Seq(c1, c2, c3, c4, c5, c6)
}
