package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}

/** Similarity search over `embeddings` (builder brief: brute-force cosine
  * top-k baseline + a bucketed/IVF variant as the scale path, plus
  * embedding-cosine near-dup pairs).
  *
  * All dot products are computed in double after widening each float element
  * — same sequential fold order as the DuckDB oracle, so values match
  * bit-for-bit in practice; displayed cosines are rounded to 4 places and
  * ranking ties break on neighbor id.
  *
  * Scale notes:
  *   - brute force broadcasts the (small) query set against the full vector
  *     table: a map-side cross product + per-query top-k via window — fine
  *     for Q ~ 10^2; the IVF variant is the path when N is huge because each
  *     query only scans its probed cells;
  *   - IVF: centroids are broadcast (k rows), assignment is a map stage,
  *     candidate generation is a shuffle join on cell id — never all-pairs.
  */
object SimilarityOps {

  /** Spark SQL: L2 norm of an array<float> column (double). */
  private def normExpr(c: String) =
    s"sqrt(vec_dot($c, $c))"

  /** Spark SQL: dot product of two array<float> columns (double). Uses the
    * custom codegen'd [[graft.functions.VectorDot]] expression — identical
    * semantics to `aggregate(zip_with(...))` but a fused loop with no
    * per-pair array allocation (21s -> measured speedup on the sf0.1
    * near-dup scan).
    */
  private def dotExpr(a: String, b: String) =
    s"vec_dot($a, $b)"

  /** DuckDB: dot product via indexed list fold (sequential, double). */
  private val duckDot =
    "list_sum(list_transform(generate_series(1, 64), i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))"

  private val duckNorm =
    "sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE)*(x::DOUBLE))))"

  private def withNorm(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .selectExpr("vec_id", "embedding", s"${normExpr("embedding")} AS nrm")

  /** s1: exact brute-force cosine top-5 for each query vector (vec_id < 5).
    */
  val s1 = Q(
    "s1_knn_bruteforce",
    s"""WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < 5),
       |p AS (SELECT q.vec_id AS qid, e.vec_id AS neighbor,
       |        $duckDot / (q.nrm * e.nrm) AS cos
       |      FROM q JOIN e ON e.vec_id <> q.vec_id)
       |SELECT qid, neighbor, round(cos, 4) AS cosine, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY round(cos, 4) DESC, neighbor) AS rnk
       |  FROM p) t
       |WHERE rnk <= 5""".stripMargin) { (s, dir) =>
    val e = withNorm(s, dir)
    val q = e.selectExpr("vec_id AS qid", "embedding AS qemb", "nrm AS qnrm")
      .filter(col("qid") < 5)
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .selectExpr("qid", "vec_id AS neighbor",
        s"${dotExpr("qemb", "embedding")} / (qnrm * nrm) AS cos")
    val w = Window.partitionBy(col("qid")).orderBy(round(col("cos"), 4).desc, col("neighbor"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("neighbor"), round(col("cos"), 4).as("cosine"), col("rnk"))
  }

  /** s2: IVF-style approximate top-5 — coarse centroids (every 100th
    * vector), nearest-cell assignment, 2-cell probe per query, exact
    * re-rank within candidates. Deterministic, so the oracle replays it.
    */
  val s2 = Q(
    "s2_knn_ivf",
    s"""WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings),
       |cents AS (SELECT vec_id AS cid, embedding, nrm FROM e WHERE vec_id % 100 = 0),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cents.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_sum(list_transform(generate_series(1, 64),
       |                   i -> cents.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |                 / (cents.nrm * e.nrm) DESC, cents.cid) AS rn
       |    FROM e, cents) t WHERE rn = 1),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT e.vec_id AS qid, cents.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_sum(list_transform(generate_series(1, 64),
       |                   i -> cents.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |                 / (cents.nrm * e.nrm) DESC, cents.cid) AS rn
       |    FROM e, cents WHERE e.vec_id < 5) t WHERE rn <= 2),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS neighbor
       |  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid),
       |scored AS (
       |  SELECT c.qid, c.neighbor,
       |    $duckDot / (q.nrm * e.nrm) AS cos
       |  FROM cand c
       |  JOIN e q ON q.vec_id = c.qid
       |  JOIN e   ON e.vec_id = c.neighbor)
       |SELECT qid, neighbor, round(cos, 4) AS cosine, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY round(cos, 4) DESC, neighbor) AS rnk
       |  FROM scored) t
       |WHERE rnk <= 5""".stripMargin) { (s, dir) =>
    val e = withNorm(s, dir)
    val cents = e.filter(col("vec_id") % 100 === 0)
      .selectExpr("vec_id AS cid", "embedding AS cemb", "nrm AS cnrm")
    def nearestCells(src: DataFrame, keep: Int): DataFrame = {
      val scored = src.join(broadcast(cents), col("vec_id") =!= lit(-1))
        .selectExpr("vec_id", "cid", s"${dotExpr("cemb", "embedding")} / (cnrm * nrm) AS ccos")
      if (keep == 1)
        // top-1 as an argmax AGGREGATE (c3/pqAssign's min_by discipline,
        // guide §2.3): max over struct(ccos, -cid) picks exactly the row
        // the window's orderBy(ccos DESC, cid ASC) ranked first — max
        // ccos, ties to the smallest cid — as a partial+final aggregate
        // instead of an Exchange+Sort+WindowGroupLimit of the full
        // N x cells scored fan-out.
        scored.groupBy(col("vec_id"))
          .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))
          .select("vec_id", "cid")
      else {
        val w = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= keep)
          .select("vec_id", "cid")
      }
    }
    val assign = nearestCells(e, 1)
    val probes = nearestCells(e.filter(col("vec_id") < 5), 2)
      .withColumnRenamed("vec_id", "qid")
    val cand = probes.join(assign, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor"))
    val scored = cand
      .join(e.selectExpr("vec_id AS qid", "embedding AS qemb", "nrm AS qnrm"), Seq("qid"))
      .join(e.selectExpr("vec_id AS neighbor", "embedding AS nemb", "nrm AS nnrm"), Seq("neighbor"))
      .selectExpr("qid", "neighbor", s"${dotExpr("qemb", "nemb")} / (qnrm * nnrm) AS cos")
    val w = Window.partitionBy(col("qid")).orderBy(round(col("cos"), 4).desc, col("neighbor"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("neighbor"), round(col("cos"), 4).as("cosine"), col("rnk"))
  }

  /** Number of random hyperplanes for s3/e1 (2^6 = 64 buckets: ~N/64
    * vectors per bucket — the probe cost knob).
    */
  val NPlanes = 6

  /** Bands the e1 near-dup query splits the sign bits into. With r =
    * NPlanes/bands planes per band, P(candidate) = 1 - (1 - p^r)^bands where
    * p = 1 - theta/pi is the per-bit agreement probability — planes-per-band
    * bounds bucket population (candidates per band ~ N^2 / 2^r), band count
    * buys recall linearly. SimilarityPropertySpec pins recall >= 0.9 for
    * planted cos >= 0.9 pairs under this banding.
    */
  val E1Bands = 2

  /** Spark SQL: deterministic pseudo-random hyperplanes — component (j, i)
    * derives from the portable md5 hash, uniform in [-1, 1]. Identical
    * arithmetic in the DuckDB oracle -> identical buckets.
    */
  private val planesSpark =
    s"""transform(sequence(0, ${NPlanes - 1}), j ->
       |  transform(sequence(0, 63), i ->
       |    (CAST(conv(substring(md5(concat('p', j * 64 + i)), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000) / 1000.0))""".stripMargin

  private val planesDuck =
    s"""list_transform(generate_series(0, ${NPlanes - 1}), j ->
       |  list_transform(generate_series(0, 63), i ->
       |    ((('0x' || substring(md5(concat('p', (j * 64 + i)::VARCHAR)), 1, 8))::BIGINT % 2001 - 1000) / 1000.0)))""".stripMargin

  /** Sign-bit bucket key of the `embedding` column, Spark + DuckDB flavors —
    * identical arithmetic, so buckets match across engines. The Spark side
    * ships the codegen'd [[graft.functions.HyperplaneBucket]] expression
    * (the lambda formulation kept in [[bucketSparkSpec]] as the executable
    * spec re-derived the CONSTANT plane matrix per row — 6 x 64 md5 calls
    * per vector — and was CodegenFallback on top).
    */
  val bucketSparkSpec: String =
    s"""concat_ws('', transform($planesSpark, p ->
       |  CASE WHEN aggregate(zip_with(embedding, p, (x, y) -> CAST(x AS DOUBLE) * y),
       |         CAST(0 AS DOUBLE), (acc, v) -> acc + v) >= 0 THEN '1' ELSE '0' END))""".stripMargin

  private val bucketDuck =
    s"""array_to_string(list_transform($planesDuck, p ->
       |  CASE WHEN list_sum(list_transform(generate_series(1, 64),
       |         i -> embedding[i]::DOUBLE * p[i])) >= 0 THEN '1' ELSE '0' END), '')""".stripMargin

  private def withBucket(s: SparkSession, dir: String): DataFrame =
    bucketed(Tables.load(s, dir, "embeddings"))

  /** Attach norm + hyperplane sign-bit bucket to any (vec_id, embedding)
    * relation — public so tests can bucket synthetic (planted near-dup)
    * vector sets with the exact production geometry.
    */
  def bucketed(df: DataFrame): DataFrame =
    df.selectExpr("vec_id", "embedding", s"${normExpr("embedding")} AS nrm",
      "hyperplane_bucket(embedding) AS bucket")

  /** [[bucketed]] with a WIDENED sign-bit key (`hyperplane_bucket_n`): the
    * large-corpus geometry. Planes-per-band must grow ~log2(N) to keep
    * band-bucket populations bounded — with the fixture's 6-bit key a 3-bit
    * band has only 8 buckets, so candidate pairs grow quadratically with
    * corpus size (measured in ScaleProbe: 16x corpus, 57x time). The first
    * 6 bits equal the fixture key, so widening only ever SHRINKS buckets.
    */
  def bucketedWith(df: DataFrame, nPlanes: Int): DataFrame =
    df.selectExpr("vec_id", "embedding", s"${normExpr("embedding")} AS nrm",
      s"hyperplane_bucket_n(embedding, $nPlanes) AS bucket")

  /** One row per (vector, band): the bucket string split into `bands` equal
    * slices of nPlanes/bands sign bits.
    */
  def hyperplaneBands(e: DataFrame, bands: Int, nPlanes: Int = NPlanes): DataFrame = {
    require(nPlanes % bands == 0, s"bands=$bands must divide nPlanes=$nPlanes")
    val r = nPlanes / bands
    e.select(col("vec_id"), explode(expr(s"sequence(0, ${bands - 1})")).as("band_idx"),
        col("bucket"))
      .selectExpr("vec_id", "band_idx", s"substring(bucket, 1 + $r*band_idx, $r) AS band_key")
  }

  /** Distinct candidate pairs (a < b) that agree on all bits of at least one
    * band — the scale-safe LSH candidate generator behind e1 (equi-join on
    * the band key, never all-pairs). `nPlanes` must match the width of the
    * bucket column in `e` ([[bucketed]] = 6, [[bucketedWith]] = caller's).
    */
  def bandCandidatePairs(e: DataFrame, bands: Int, nPlanes: Int = NPlanes): DataFrame = {
    val b = hyperplaneBands(e, bands, nPlanes)
    b.select(col("band_idx"), col("band_key"), col("vec_id").as("a"))
      .join(b.select(col("band_idx"), col("band_key"), col("vec_id").as("b")),
        Seq("band_idx", "band_key"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** s3: random-hyperplane (SimHash-style) LSH ANN — the bucketed scale
    * path for cosine search: each vector hashes to a sign-bit bucket, so
    * candidate generation is a groupBy/join on the bucket key instead of
    * all-pairs. Top-3 by exact cosine within the query's bucket.
    */
  val s3 = Q(
    "s3_knn_lsh_hyperplane",
    s"""WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm,
       |  $bucketDuck AS bucket
       |  FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < 5),
       |p AS (SELECT q.vec_id AS qid, e.vec_id AS neighbor,
       |        $duckDot / (q.nrm * e.nrm) AS cos
       |      FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id)
       |SELECT qid, neighbor, round(cos, 4) AS cosine, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY round(cos, 4) DESC, neighbor) AS rnk
       |  FROM p) t
       |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
    val e = withBucket(s, dir)
    val q = e.selectExpr("vec_id AS qid", "embedding AS qemb", "nrm AS qnrm", "bucket AS qbucket")
      .filter(col("qid") < 5)
    val pairs = e.join(broadcast(q), col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .selectExpr("qid", "vec_id AS neighbor", s"${dotExpr("qemb", "embedding")} / (qnrm * nrm) AS cos")
    val w = Window.partitionBy(col("qid")).orderBy(round(col("cos"), 4).desc, col("neighbor"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("neighbor"), round(col("cos"), 4).as("cosine"), col("rnk"))
  }

  /** Per-vector nearest-cell ranking against a centroid relation
    * `(cid, cemb, cnrm)` — the ScaleProbe candidate-law census probe.
    * NOT the operator's assignment path: [[knnJoin]] assigns two-level
    * (bounded super broadcast + sup-keyed join); this flat
    * `broadcast(cents)` is exactly the shape that OOMs when cell count
    * grows with the corpus, kept only to measure that geometry honestly.
    */
  def knnJoinRanked(e: DataFrame, cents: DataFrame): DataFrame =
    e.join(broadcast(cents))
      .selectExpr("vec_id", "embedding", "nrm", "cid",
        s"${dotExpr("cemb", "embedding")} / (cnrm * nrm) AS ccos")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))))

  /** e1: embedding-cosine near-duplicate pairs (cos >= 0.4) among
    * hyperplane-LSH band candidates — the 6 sign bits split into 2 bands of
    * 3 planes; a pair is a candidate iff it agrees on ALL bits of SOME band
    * (equi-join on the band key, never all-pairs; round 1's `a < b` cross
    * join was the last all-pairs shape in the repo). Deterministic planes
    * mean the DuckDB oracle replays the exact same candidate set.
    *
    * Geometry measured at sf0.01 (N=500): 2x3 banding scans 24% of all
    * pairs and keeps 29 of the 59 cos>=0.4 pairs; a single 6-bit bucket
    * scans 1.8% but keeps 1/59 — at the LOW 0.4 threshold recall costs
    * candidates (near-dup thresholds >=0.9 recall far better). Scale knobs:
    * planes-per-band bounds bucket population (candidates per band ~
    * N^2/2^r), band count buys recall linearly.
    */
  val e1 = Q(
    "e1_embedding_neardup",
    s"""WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm,
       |  $bucketDuck AS bucket
       |  FROM embeddings),
       |bands AS (
       |  SELECT vec_id, j AS band_idx, substring(bucket, 1 + 3*j, 3) AS band_key
       |  FROM e, (SELECT unnest(generate_series(0, 1)) AS j) t),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.vec_id < y.vec_id)
       |SELECT c.a, c.b, round($duckDot / (q.nrm * e.nrm), 4) AS cosine
       |FROM cand c JOIN e q ON q.vec_id = c.a JOIN e ON e.vec_id = c.b
       |WHERE $duckDot / (q.nrm * e.nrm) >= 0.4""".stripMargin) { (s, dir) =>
    val e = withBucket(s, dir)
    val cand = bandCandidatePairs(e, E1Bands)
    // Candidates carry only ids through the band shuffle; embeddings
    // re-attach afterwards. The embeddings relation is corpus-cardinality
    // (one row per vector), so it is NOT force-broadcast: the re-attach is a
    // plain equi-join on vec_id — high-cardinality, uniform — and AQE
    // switches it to a broadcast join at runtime while the relation measures
    // small. The scale invariant (guarded by PlanShapeSpec) is that the
    // 64-float arrays never ship through the band-key shuffle, only keyed by
    // vec_id — same discipline as d4's verify stage.
    cand
      .join(e.selectExpr("vec_id AS a", "embedding AS aemb", "nrm AS anrm"), Seq("a"))
      .join(e.selectExpr("vec_id AS b", "embedding AS bemb", "nrm AS bnrm"), Seq("b"))
      .selectExpr("a", "b", s"${dotExpr("aemb", "bemb")} / (anrm * bnrm) AS cos")
      .filter(col("cos") >= 0.4)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cosine"))
  }

  /** e2: the audit row for e1 (ADVICE: surface the approximation) —
    * candidate count, kept count, and the scanned fraction of all C(N,2)
    * pairs in basis points. Read together with e1 this states exactly what
    * the LSH traded: "scanned X% of the corpus pairs, verified C candidates,
    * kept K". Same deterministic candidate set as e1, so the oracle replays
    * it; one extra row of output, no extra corpus pass at scale (count +
    * verify share e1's shape).
    */
  val e2 = Q(
    "e2_embedding_neardup_audit",
    s"""WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm,
       |  $bucketDuck AS bucket
       |  FROM embeddings),
       |bands AS (
       |  SELECT vec_id, j AS band_idx, substring(bucket, 1 + 3*j, 3) AS band_key
       |  FROM e, (SELECT unnest(generate_series(0, 1)) AS j) t),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.vec_id < y.vec_id),
       |n AS (SELECT count(*) AS n FROM e),
       |scored AS (
       |  SELECT CASE WHEN $duckDot / (q.nrm * e.nrm) >= 0.4 THEN 1 ELSE 0 END AS kept
       |  FROM cand c JOIN e q ON q.vec_id = c.a JOIN e ON e.vec_id = c.b)
       |SELECT count(*)::BIGINT AS n_candidates,
       |  sum(kept)::BIGINT AS n_kept,
       |  (count(*) * 10000 // (max(n.n) * (max(n.n) - 1) / 2))::BIGINT AS scanned_bps
       |FROM scored, n""".stripMargin) { (s, dir) =>
    val e = withBucket(s, dir)
    val cand = bandCandidatePairs(e, E1Bands)
    val n = e.agg(count(lit(1)).as("n"))
    cand
      .join(e.selectExpr("vec_id AS a", "embedding AS aemb", "nrm AS anrm"), Seq("a"))
      .join(e.selectExpr("vec_id AS b", "embedding AS bemb", "nrm AS bnrm"), Seq("b"))
      .select(when(expr(s"${dotExpr("aemb", "bemb")} / (anrm * bnrm)") >= 0.4, 1L)
        .otherwise(0L).as("kept"))
      .join(broadcast(n))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(col("kept")).as("n_kept"),
        floor(count(lit(1)) * 10000 / (max(col("n")) * (max(col("n")) - 1) / 2))
          .cast("long").as("scanned_bps"))
  }

  /** e3: int8 quantization — the 4x memory/bandwidth cut every
    * billion-vector ANN deployment applies before indexing: per-vector
    * symmetric scaling to [-127, 127] (scale = max |x|). Pure shuffle-free
    * map stage over the embedding column, codegen higher-order functions
    * only. Output is oracle-exact by construction: the quantized values are
    * INTEGERS, so their checksums (sum and L1 mass) compare exactly where
    * float sums would drift by accumulation order; the per-vector scale is
    * an order-insensitive max. At scale the int8 arrays (not these audit
    * sums) are what downstream s2/s3-style indexes would store.
    */
  val e3 = Q(
    "e3_int8_quantize",
    """SELECT vec_id,
      |  round(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 6) AS scale,
      |  list_sum(list_transform(embedding,
      |    x -> round(x::DOUBLE * 127.0 / list_max(list_transform(embedding, y -> abs(y::DOUBLE))))::BIGINT))::BIGINT AS q_sum,
      |  list_sum(list_transform(embedding,
      |    x -> abs(round(x::DOUBLE * 127.0 / list_max(list_transform(embedding, y -> abs(y::DOUBLE)))))::BIGINT))::BIGINT AS q_l1
      |FROM embeddings""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s")
      .selectExpr("vec_id",
        "round(s, 6) AS scale",
        "aggregate(embedding, 0L, (a, x) -> a + CAST(round(CAST(x AS DOUBLE) * 127.0 / s) AS BIGINT)) AS q_sum",
        "aggregate(embedding, 0L, (a, x) -> a + abs(CAST(round(CAST(x AS DOUBLE) * 127.0 / s) AS BIGINT))) AS q_l1")
  }

  /** e4: retrieval end-to-end (the RAG read path) — ANN candidates from
    * the hyperplane bucket (s3's equi-join shape), exact cosine re-rank to
    * top-3, then the hit list joined BACK to the document store on its
    * primary key for the payload a retriever actually returns (lang,
    * source, snippet). The metadata join is keyed on doc_id with the
    * corpus on the build side and the k*q-row hit list on the probe side —
    * AQE broadcasts the hit list while it measures small; nothing
    * corpus-sized is hinted.
    */
  val e4 = Q(
    "e4_rag_retrieve",
    s"""WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm,
       |  $bucketDuck AS bucket
       |  FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < 3),
       |p AS (SELECT q.vec_id AS qid, e.vec_id AS doc_id,
       |        $duckDot / (q.nrm * e.nrm) AS cos
       |      FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id),
       |hits AS (
       |  SELECT qid, doc_id, round(cos, 4) AS cosine, rnk FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY round(cos, 4) DESC, doc_id) AS rnk
       |    FROM p) t
       |  WHERE rnk <= 3)
       |SELECT h.qid, h.rnk, h.doc_id, h.cosine, d.lang, d.source,
       |  substring(d.text, 1, 40) AS snippet
       |FROM hits h JOIN documents d ON d.doc_id = h.doc_id""".stripMargin) { (s, dir) =>
    val e = withBucket(s, dir)
    val q = e.selectExpr("vec_id AS qid", "embedding AS qemb", "nrm AS qnrm", "bucket AS qbucket")
      .filter(col("qid") < 3)
    val pairs = e.join(broadcast(q), col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .selectExpr("qid", "vec_id AS doc_id", s"${dotExpr("qemb", "embedding")} / (qnrm * nrm) AS cos")
    val w = Window.partitionBy(col("qid")).orderBy(round(col("cos"), 4).desc, col("doc_id"))
    val hits = pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("doc_id"), round(col("cos"), 4).as("cosine"))
    hits.join(Tables.load(s, dir, "documents"), Seq("doc_id"))
      .select(col("qid"), col("rnk"), col("doc_id"), col("cosine"),
        col("lang"), col("source"), substring(col("text"), 1, 40).as("snippet"))
  }

  /** MMR geometry for e5: candidate pool per query and the number of greedy
    * picks after the seed the REGISTERED query runs. [[mmrRerank]] itself
    * takes arbitrary k (and stops early on pool exhaustion); this is just
    * e5's k, interpolated into both the Spark call and the generated oracle
    * CTE chain so the two can never disagree on depth.
    */
  val MmrCandidates = 20
  val MmrPicks = 10

  /** λ and (1−λ) are pinned as two literals (not derived) so the Spark
    * `lit` and the DuckDB `::DOUBLE` literal are bit-identical doubles —
    * `1 - 0.7` in binary64 is NOT the same double as `0.3`.
    */
  val MmrLambda = 0.7
  val MmrMu = 0.3

  /** Greedy MMR selection over a per-query candidate pool
    * `(qid, doc_id, emb, dn, rel)` for ARBITRARY k: round 0 seeds at pure
    * relevance; each later round scores every remaining candidate as
    * `λ·rel − (1−λ)·max_sim_to_selected` and takes the per-query argmax.
    * Ranking keys are rounded to 4 places with a doc_id tie-break (the
    * portable-float discipline every similarity query uses). The loop runs
    * k rounds or until NO query has candidates left — a pick-emptiness
    * scalar probe (c1's convergence-probe discipline), so k larger than the
    * pool degrades to pool-sized output instead of spinning empty rounds;
    * a query whose own pool exhausts first simply stops contributing rows.
    *
    * Scale shape: every round works on ≤ |queries| × pool rows, all joins
    * keyed on qid, per-round cost |cand| × |selected| per query — O(q·k²)
    * total, independent of corpus size. The greedy recurrence is
    * inherently sequential in k (each pick conditions the next), so rounds
    * are driver-launched DAG stages over localCheckpoint'ed row sets —
    * row data never lands on the driver. localCheckpoint is the RIGHT
    * primitive locally but its blocks die with an executor; a production
    * k-deep rerank should `setCheckpointDir` + `checkpoint()` the frontier
    * (or persist `sel` to a table every few rounds) so a lost executor
    * replays one round, not the whole recurrence.
    */
  def mmrRerank(cand0: DataFrame, k: Int): DataFrame = {
    val cand = cand0.localCheckpoint()
    val wSeed = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("doc_id"))
    var sel = cand.withColumn("rnk", row_number().over(wSeed))
      .filter(col("rnk") === 1).drop("rnk")
      .withColumn("sel_round", lit(0L))
      .localCheckpoint()
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val rem = cand.join(sel.select("qid", "doc_id"), Seq("qid", "doc_id"), "left_anti")
      val msim = rem
        .join(sel.select(col("qid"), col("emb").as("semb"), col("dn").as("sdn")), Seq("qid"))
        .select(col("qid"), col("doc_id"),
          (expr(dotExpr("emb", "semb")) / (col("dn") * col("sdn"))).as("sim"))
        .groupBy(col("qid"), col("doc_id")).agg(max(col("sim")).as("msim"))
      val wPick = Window.partitionBy(col("qid")).orderBy(
        round(lit(MmrLambda) * col("rel") - lit(MmrMu) * col("msim"), 4).desc,
        col("doc_id"))
      val pick = rem.join(msim, Seq("qid", "doc_id"))
        .withColumn("rnk", row_number().over(wPick))
        .filter(col("rnk") === 1)
        .select(col("qid"), col("doc_id"), col("emb"), col("dn"), col("rel"))
        .withColumn("sel_round", lit(r.toLong))
        .localCheckpoint()
      if (pick.isEmpty) { exhausted = true; graft.core.Checkpoints.release(pick) }
      else {
        val next = sel.union(pick).localCheckpoint()
        // eager checkpoint: `next` is materialized, so the superseded
        // frontier and the one-round pick can release their blocks —
        // without this, k rounds pin k+1 selected-set copies in executor
        // storage for the session lifetime
        graft.core.Checkpoints.release(sel)
        graft.core.Checkpoints.release(pick)
        sel = next
      }
      r += 1
    }
    // the returned selection is its own checkpoint; the candidate pool's
    // blocks serve no further reader
    graft.core.Checkpoints.release(cand)
    sel
  }

  /** e5: MMR diversified re-rank (maximal marginal relevance, Carbonell &
    * Goldstein SIGIR 1998) — the step a retriever runs AFTER e4's top-k:
    * from each query's candidate pool, greedily select results that are
    * relevant to the query but not redundant with what's already selected.
    * Runs [[mmrRerank]] at k = [[MmrPicks]] over a [[MmrCandidates]]-deep
    * pool; the oracle replays the identical k rounds as a generated CTE
    * chain — selection ORDER is the checked signal.
    *
    * Scale note: the only corpus-sized stage is candidate generation
    * (brute force here — the s3/e4 bucketed join is the drop-in at scale);
    * everything after is pool-sized (see [[mmrRerank]]).
    */
  val e5 = {
    def dd(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
    // MATERIALIZED on the multi-referenced CTEs (sel_r feeds rem/sim/sel of
    // round r+1; rem_r feeds sim_r and pick_r; cand feeds every round):
    // DuckDB inlines CTEs by default, so a k-deep chain would otherwise
    // expand to 3^k scans
    val roundCtes = (1 to MmrPicks).map { r =>
      s"""rem$r AS MATERIALIZED (SELECT c.* FROM cand c WHERE NOT EXISTS (
         |  SELECT 1 FROM sel${r - 1} s WHERE s.qid = c.qid AND s.doc_id = c.doc_id)),
         |sim$r AS (SELECT m.qid, m.doc_id,
         |    max(${dd("m.emb", "s.emb")} / (m.dn * s.dn)) AS msim
         |  FROM rem$r m JOIN sel${r - 1} s ON s.qid = m.qid
         |  GROUP BY 1, 2),
         |pick$r AS (SELECT qid, doc_id, emb, dn, rel, $r::BIGINT AS sel_round FROM (
         |    SELECT c.qid, c.doc_id, c.emb, c.dn, c.rel,
         |      row_number() OVER (PARTITION BY c.qid
         |        ORDER BY round($MmrLambda::DOUBLE * c.rel - $MmrMu::DOUBLE * m.msim, 4) DESC,
         |                 c.doc_id) AS rnk
         |    FROM rem$r c JOIN sim$r m ON m.qid = c.qid AND m.doc_id = c.doc_id) t
         |  WHERE rnk = 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)""".stripMargin
    }.mkString(",\n")
    Q(
      "e5_mmr_rerank",
      s"""WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 3),
         |p AS (SELECT q.vec_id AS qid, e.vec_id AS doc_id, e.embedding AS emb,
         |        e.nrm AS dn, $duckDot / (q.nrm * e.nrm) AS cos
         |      FROM q JOIN e ON e.vec_id <> q.vec_id),
         |cand AS MATERIALIZED (SELECT qid, doc_id, emb, dn, round(cos, 4) AS rel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY round(cos, 4) DESC, doc_id) AS rnk FROM p) t
         |  WHERE rnk <= $MmrCandidates),
         |sel0 AS MATERIALIZED (SELECT qid, doc_id, emb, dn, rel, 0::BIGINT AS sel_round FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY rel DESC, doc_id) AS rnk FROM cand) t
         |  WHERE rnk = 1),
         |$roundCtes
         |SELECT qid, sel_round, doc_id, rel FROM sel$MmrPicks""".stripMargin) { (s, dir) =>
      mmrRerank(mmrCandidatePool(s, dir, MmrCandidates), MmrPicks)
        .select(col("qid"), col("sel_round"), col("doc_id"), col("rel"))
    }
  }

  /** e5's candidate-pool construction at arbitrary depth — per query
    * (vec_id < 3), the top-`depth` exact-cosine candidates with embedding
    * and norm attached: `(qid, doc_id, emb, dn, rel)`. Exposed separately
    * so the ScaleProbe k-ladder can hold the pool FIXED while varying
    * [[mmrRerank]]'s k (pricing the O(q·k²) claim in isolation from
    * candidate generation, the only corpus-sized stage).
    */
  def mmrCandidatePool(s: SparkSession, dir: String, depth: Int): DataFrame = {
    val e = withNorm(s, dir)
    val q = e.filter(col("vec_id") < 3)
      .selectExpr("vec_id AS qid", "embedding AS qemb", "nrm AS qnrm")
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .selectExpr("qid", "vec_id AS doc_id", "embedding AS emb", "nrm AS dn",
        s"${dotExpr("qemb", "embedding")} / (qnrm * nrm) AS cos")
    val wCand = Window.partitionBy(col("qid"))
      .orderBy(round(col("cos"), 4).desc, col("doc_id"))
    pairs.withColumn("rnk", row_number().over(wCand))
      .filter(col("rnk") <= depth)
      .select(col("qid"), col("doc_id"), col("emb"), col("dn"),
        round(col("cos"), 4).as("rel"))
  }

  /** RRF constant (Cormack & Clarke SIGIR 2009's k = 60) and list depths. */
  val RrfK = 60
  val RrfListDepth = 10
  val RrfTopK = 5

  /** e7's own result depth — interpolated into BOTH the Spark impl and the
    * oracle SQL so retuning it (or e6's unrelated RrfListDepth) can never
    * drift the pair apart.
    */
  val Bm25TopK = 10

  /** e6: reciprocal-rank-fusion hybrid retrieval (Cormack, Clarke &
    * Buettcher SIGIR 2009) — the standard way a RAG stack combines a DENSE
    * ranking (embedding cosine) with a LEXICAL one (term overlap) without
    * calibrating their incomparable scores: each list contributes
    * `1/(k + rank)` and the fused ranking orders by the sum. Documents
    * found by only one retriever still score (the full-outer join keeps
    * them); documents both retrievers agree on float to the top.
    *
    * Cross-engine float discipline: each contribution is ONE IEEE double
    * division `1.0/(60 + rank)` (bit-identical in both engines) and the
    * fused score is a sum of at most TWO such terms — IEEE addition of two
    * doubles is commutative, so the score is exact with no rounding
    * needed; `round(,6)` on the displayed column only.
    *
    * Scale shape: the dense arm is the s1 broadcast scan (s2/s3's
    * bucketed candidates are the drop-in at corpus scale); the lexical arm
    * is an inverted-index posting join — tokenize once (map-side,
    * per-doc-distinct), broadcast the |q|·|terms| query postings, and the
    * per-(qid, doc) overlap count is a partial-agg'd groupBy. Everything
    * after candidate generation is ≤ |q| × 2·depth rows.
    */
  val e6 = Q(
    "e6_rrf_hybrid_retrieve",
    s"""WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < 3),
       |p AS (SELECT q.vec_id AS qid, e.vec_id AS doc_id,
       |        $duckDot / (q.nrm * e.nrm) AS cos
       |      FROM q JOIN e ON e.vec_id <> q.vec_id),
       |dense AS (SELECT qid, doc_id, rnk FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY round(cos, 4) DESC, doc_id) AS rnk FROM p) t
       |  WHERE rnk <= $RrfListDepth),
       |toks AS (SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
       |    FROM documents) t
       |  WHERE tok <> ''),
       |qtoks AS (SELECT doc_id AS qid, tok FROM toks WHERE doc_id < 3),
       |ov AS (SELECT q.qid, t.doc_id, count(*) AS overlap
       |  FROM qtoks q JOIN toks t ON t.tok = q.tok AND t.doc_id <> q.qid
       |  GROUP BY 1, 2),
       |lex AS (SELECT qid, doc_id, rnk FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY overlap DESC, doc_id) AS rnk FROM ov) t
       |  WHERE rnk <= $RrfListDepth),
       |fused AS (SELECT coalesce(d.qid, l.qid) AS qid,
       |    coalesce(d.doc_id, l.doc_id) AS doc_id,
       |    d.rnk AS dense_rnk, l.rnk AS lex_rnk,
       |    coalesce(1.0::DOUBLE / ($RrfK + d.rnk), 0.0::DOUBLE) +
       |      coalesce(1.0::DOUBLE / ($RrfK + l.rnk), 0.0::DOUBLE) AS rrf
       |  FROM dense d FULL OUTER JOIN lex l
       |    ON l.qid = d.qid AND l.doc_id = d.doc_id)
       |SELECT qid, rnk, doc_id, round(rrf, 6) AS rrf, dense_rnk, lex_rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf DESC, doc_id) AS rnk FROM fused) t
       |WHERE rnk <= $RrfTopK""".stripMargin) { (s, dir) =>
    val e = withNorm(s, dir)
    val q = e.filter(col("vec_id") < 3)
      .selectExpr("vec_id AS qid", "embedding AS qemb", "nrm AS qnrm")
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .selectExpr("qid", "vec_id AS doc_id",
        s"${dotExpr("qemb", "embedding")} / (qnrm * nrm) AS cos")
    val wDense = Window.partitionBy(col("qid"))
      .orderBy(round(col("cos"), 4).desc, col("doc_id"))
    val dense = pairs.withColumn("rnk", row_number().over(wDense))
      .filter(col("rnk") <= RrfListDepth)
      .select(col("qid"), col("doc_id"), col("rnk"))

    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(expr(
          "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))).as("tok"))
    // rename BOTH query columns before the self-join so the condition binds
    // by name (the file's established idiom — avoids ambiguous-self-join)
    val qtoks = toks.filter(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("tok").as("qtok"))
    val ov = toks.join(broadcast(qtoks),
        col("tok") === col("qtok") && col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("overlap"))
    val wLex = Window.partitionBy(col("qid"))
      .orderBy(col("overlap").desc, col("doc_id"))
    val lex = ov.withColumn("rnk", row_number().over(wLex))
      .filter(col("rnk") <= RrfListDepth)
      .select(col("qid"), col("doc_id"), col("rnk"))

    val d = dense.select(col("qid"), col("doc_id"), col("rnk").as("dense_rnk"))
    val l = lex.select(col("qid").as("lqid"), col("doc_id").as("ldoc_id"),
      col("rnk").as("lex_rnk"))
    val fused = d.join(l,
        d("qid") === l("lqid") && d("doc_id") === l("ldoc_id"), "full_outer")
      .select(
        coalesce(d("qid"), l("lqid")).as("qid"),
        coalesce(d("doc_id"), l("ldoc_id")).as("doc_id"),
        col("dense_rnk"), col("lex_rnk"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("dense_rnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("lex_rnk")), lit(0.0))).as("rrf"))
    val wFused = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(wFused))
      .filter(col("rnk") <= RrfTopK)
      .select(col("qid"), col("rnk"), col("doc_id"),
        round(col("rrf"), 6).as("rrf"), col("dense_rnk"), col("lex_rnk"))
  }

  /** e7: BM25 lexical retrieval (Robertson & Walker SIGIR 1994; the Okapi
    * scoring every lexical search engine runs) over the corpus's own
    * inverted index — the principled form of e6's raw term-overlap arm:
    * rare terms weigh more (idf), repeated terms saturate (k1), long
    * documents are normalized (b).
    *
    * Cross-engine discipline — INTEGER-EXACT RATIONAL BM25: with k1 = 1.2
    * and b = 0.75, multiply the classic per-term score
    * `idf · tf(k1+1) / (tf + k1(1−b+b·dl/avgdl))` through by 10·L (where
    * avgdl = L/N) and every quantity becomes a BIGINT:
    * `contrib = idf_int · 22·tf·L div (10·tf·L + 3·L + 9·dl·N)` with
    * `idf_int = N·100 div df`. No float exists anywhere, so the per-doc
    * score (a SUM of BIGINTs) is exact and order-independent — the whole
    * ranking hashes bit-for-bit on any engine. Magnitudes fit BIGINT
    * through the gated scales (≤ ~3.5e17 at sf0.1); a cluster-scale
    * deployment would swap the rational for double scoring in the same
    * plan (ranking there doesn't need cross-engine exactness).
    *
    * Scale shape: tf / df / dl are one groupBy each over the token
    * relation — the inverted-index build a lake materializes ONCE and
    * amortizes across every query; scoring is a broadcast join on the
    * |q|·|terms| query postings with a partial-agg'd per-(qid, doc) sum,
    * then WindowGroupLimit top-k. Corpus-sized data shuffles only on
    * (doc, term) — never on pairs.
    */
  val e7 = Q(
    "e7_bm25_retrieve",
    s"""WITH toks AS (SELECT doc_id,
      |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
      |  WHERE tok <> '' GROUP BY 1, 2),
      |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
      |dfs AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |tot AS (SELECT count(DISTINCT doc_id)::BIGINT AS nn,
      |    sum(tf)::BIGINT AS ll FROM tf),
      |q AS (SELECT doc_id AS qid, tok AS qtok FROM tf WHERE doc_id < 3),
      |sc AS (SELECT q.qid, t.doc_id,
      |    (((nn * 100) // dfs.df) * 22 * t.tf * ll) //
      |      (10 * t.tf * ll + 3 * ll + 9 * dl.dl * nn) AS contrib
      |  FROM tf t JOIN q ON q.qtok = t.tok AND t.doc_id <> q.qid
      |  JOIN dfs ON dfs.tok = t.tok
      |  JOIN dl ON dl.doc_id = t.doc_id, tot),
      |agg AS (SELECT qid, doc_id, sum(contrib)::BIGINT AS score,
      |    count(*) AS n_terms FROM sc GROUP BY 1, 2)
      |SELECT qid, rnk, doc_id, score, n_terms FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY score DESC, doc_id) AS rnk FROM agg) t
      |WHERE rnk <= $Bm25TopK""".stripMargin) { (s, dir) =>
    bm25Retrieve(Tables.load(s, dir, "documents"))
  }

  /** e7's pipeline over any `documents`-shaped relation (doc_id, text) —
    * exposed so SimilarityPropertySpec can pin the BM25 axioms (idf
    * ordering, tf saturation, length normalization) on crafted corpora.
    * Queries are the doc_id < 3 documents, matching the registered query.
    *
    * `materialize` is how the (doc_id, tok, tf) inverted index gets pinned
    * before four downstream consumers derive from it. The default —
    * `localCheckpoint()` — is right for a single-JVM run: blocks live in
    * executor storage with NO lineage, so an executor loss makes them
    * unrecoverable and fails the job. A production cluster should pass a
    * RELIABLE materializer instead: write the index to a parquet table (or
    * `checkpoint()` against a DFS checkpoint dir) and read it back — that
    * is also what a lake does anyway, building the index ONCE and
    * amortizing it across every query it ever serves. ScaleProbe's `e7mat`
    * rung measures the delta between the two on the same corpus so the
    * guidance carries a number (see BENCH_NOTES.md).
    */
  def bm25Retrieve(
      docs: DataFrame,
      materialize: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("tok"))
    // materialize the index ONCE (the e5 localCheckpoint precedent): dl,
    // dfs, tot, and q all derive from tf — without this the plan re-runs
    // the full-corpus tokenize + (doc, tok) agg four times per execution
    val tf = materialize(
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfs = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val tot = tf.agg(countDistinct(col("doc_id")).as("nn"), sum(col("tf")).as("ll"))
    // tf is already unique per (doc_id, tok) — no distinct needed
    val q = tf.filter(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("tok").as("qtok"))
    val sc = tf.join(broadcast(q),
        col("tok") === col("qtok") && col("doc_id") =!= col("qid"))
      .join(dfs, Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .withColumn("contrib", expr(
        "(((nn * 100L) div df) * 22L * tf * ll) div (10L * tf * ll + 3L * ll + 9L * dl * nn)"))
    val agg = sc.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_terms"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    agg.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= Bm25TopK)
      .select(col("qid"), col("rnk"), col("doc_id"), col("score"), col("n_terms"))
  }

  /** PQ geometry: 64 dims = [[PqSubspaces]] × [[PqSubDim]]-dim sub-vectors,
    * [[PqK]] centroids per subspace → one byte-sized code per subspace, an
    * 8-byte code per vector (32× compression over 64 floats).
    */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqK = 16
  val PqTopK = 5

  /** Per-(vector, subspace) sub-vector rows with squared norms — one
    * generator map stage, no shuffle; every downstream PQ stage works on
    * these narrow rows instead of full vectors.
    */
  /** Generator expression slicing `colName` (array<float>, 64 elems) into
    * the 8 per-subspace sub-vectors.
    */
  private def pqSlice(colName: String): String =
    s"transform(sequence(0, ${PqSubspaces - 1}), " +
      s"s -> struct(s AS s, slice($colName, s * $PqSubDim + 1, $PqSubDim) AS sub))"

  private def pqSub(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), explode(expr(pqSlice("embedding"))).as("e"))
      .selectExpr("vec_id", "e.s AS s", "e.sub AS sub", "vec_dot(e.sub, e.sub) AS sq")

  /** Nearest codebook entry per (vector, subspace): scored broadcast join +
    * argmin AGGREGATE, c3's assignment discipline (raw-double distance
    * order, cid tie-break — the ordered-fold dot makes the doubles
    * bit-identical across engines, so no rounding is needed before the
    * argmin). min_by over struct(dist2, cid) picks exactly the row the
    * old top-1 window's orderBy(dist2, cid) ranked first, but as a
    * partial+final hash aggregate (guide §2.3 "aggregate before you
    * shuffle"): the K-way scored fan-out collapses map-side to one row
    * per (vec_id, s) BEFORE the exchange, where the r16 window shape
    * shuffled all K scored rows and sorted them per group.
    */
  private def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("s"))
      .selectExpr("vec_id", "s", "cid", "sq + csq - 2 * vec_dot(sub, cent) AS dist2")
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(col("cid"), struct(col("dist2"), col("cid"))).as("cid"))
      .select("vec_id", "s", "cid")

  /** Public PQ encode: codes `(vec_id, s, cid)` for an `embeddings`-shaped
    * frame under the given codebooks (the suite's reconstruction checks
    * and any downstream consumer of the compressed index).
    */
  def pqEncode(embs: DataFrame, cb: DataFrame): DataFrame =
    pqAssign(pqSub(embs), cb)

  /** Per-subspace PQ codebooks `(s, cid, cent, csq)`: deterministic seeds
    * (the 16 lowest vec_ids' sub-vectors) + ONE unrolled Lloyd round with
    * float-cast means — exactly c3's k-means discipline applied
    * independently in each of the 8 subspaces, so the oracle replays it
    * set-at-a-time with `s` as data (no per-subspace unrolling).
    */
  def pqCodebooks(embs: DataFrame): DataFrame = {
    val sub = pqSub(embs)
    val seedIds = embs.orderBy(col("vec_id")).limit(PqK)
      .select(col("vec_id").as("seed_id"))
    val wSeed = Window.partitionBy(col("s")).orderBy(col("seed_id"))
    val seeds = sub.join(broadcast(seedIds), col("vec_id") === col("seed_id"))
      .select(col("s"), (row_number().over(wSeed) - 1).as("cid"),
        col("sub").as("cent"), col("sq").as("csq"))
    pqAssign(sub, seeds)
      .join(sub, Seq("vec_id", "s"))
      .select(col("s"), col("cid"), posexplode(col("sub")).as(Seq("i", "x")))
      .groupBy(col("s"), col("cid"), col("i")).agg(avg(col("x")).cast("float").as("m"))
      .groupBy(col("s"), col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(i, m))), x -> x.m)").as("cent"))
      .selectExpr("s", "cid", "cent", "vec_dot(cent, cent) AS csq")
  }

  /** e8: PRODUCT QUANTIZATION + ADC retrieval (Jégou, Douze & Schmid,
    * TPAMI 2011) — the missing quadrant of the ANN family: s1 is exact,
    * s2/e4 prune WHICH vectors are scored (IVF/LSH) but still score full
    * vectors; PQ compresses the VECTORS THEMSELVES to 8 one-byte codes and
    * scores with asymmetric distance computation (ADC): per query, one
    * 8×16 lookup table of exact query-sub-vector→centroid distances, then
    * every database vector's approximate distance is just 8 table lookups
    * summed in subspace order — no float vector is ever touched at scan
    * time. This is the memory-bound regime's workhorse (IVF-PQ): 100 TB of
    * float vectors become ~1.5 TB of codes that fit the page cache.
    *
    * Determinism end-to-end: codebooks are c3's seeded one-round Lloyd per
    * subspace (float-cast means absorb cross-engine sum-order noise);
    * assignments order by raw bit-identical doubles with cid tie-break;
    * the 8-term ADC sum folds in subspace order on BOTH engines (sorted
    * struct fold here, `list(d ORDER BY s)` there); the final ranking
    * rounds to 4 places with doc_id tie-break. The oracle replays the
    * whole pipeline — sub-vector slicing, seeding, the Lloyd round,
    * encoding, LUT build, ordered ADC fold, ranking — so one wrong slice
    * offset, mean, code, or fold order breaks the hash.
    *
    * Scale shape: codes are (vec_id, s, cid) scalars — the only
    * corpus-sized relations; codebooks (128 rows) and LUTs (q×128 rows)
    * broadcast; scoring is one equi join on (s, cid) + a per-(qid,vec)
    * 8-row fold, linear in N·m. Nothing full-vector-sized shuffles.
    */
  /** e8's PQ train+encode oracle chain over RAW `embeddings` sub-vectors,
    * through `codes` (vec_id, s, cid): slicing, seeded one-round Lloyd per
    * subspace (`cb`), full-corpus encode. Shared verbatim by e8's ADC
    * retrieval and s4's SDC kNN join — one certified quantizer, two
    * distance modes (asymmetric query-vs-code, symmetric code-vs-code).
    */
  private def duckPqRawCtes: String =
    s"""sub AS (
       |  SELECT vec_id, g.s,
       |    list_transform(generate_series(1, $PqSubDim), i -> embedding[$PqSubDim * g.s + i]) AS sub
       |  FROM embeddings, (SELECT unnest(generate_series(0, ${PqSubspaces - 1})) AS s) g),
       |subq AS (
       |  SELECT vec_id, s, sub, ${duckDot8("sub", "sub")} AS sq FROM sub),
       |seed_ids AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $PqK),
       |seeds AS (
       |  SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cid,
       |    sub AS cent, sq AS csq
       |  FROM subq WHERE vec_id IN (SELECT vec_id FROM seed_ids)),
       |a1 AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT b.vec_id, b.s, c.cid,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s
       |        ORDER BY b.sq + c.csq - 2 * ${duckDot8("b.sub", "c.cent")}, c.cid) AS rn
       |    FROM subq b JOIN seeds c ON c.s = b.s) t WHERE rn = 1),
       |upd AS (
       |  SELECT a.s, a.cid, i.i, avg(b.sub[i.i])::FLOAT AS m
       |  FROM a1 a JOIN subq b ON b.vec_id = a.vec_id AND b.s = a.s,
       |    (SELECT unnest(generate_series(1, $PqSubDim)) AS i) i
       |  GROUP BY 1, 2, 3),
       |cb AS (
       |  SELECT s, cid, list(m ORDER BY i) AS cent,
       |    list_sum(list_transform(list(m ORDER BY i), x -> x::DOUBLE * x::DOUBLE)) AS csq
       |  FROM upd GROUP BY 1, 2),
       |codes AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT b.vec_id, b.s, c.cid,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s
       |        ORDER BY b.sq + c.csq - 2 * ${duckDot8("b.sub", "c.cent")}, c.cid) AS rn
       |    FROM subq b JOIN cb c ON c.s = b.s) t WHERE rn = 1)""".stripMargin

  val e8 = {
    def dot8(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, $PqSubDim), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
    Q(
      "e8_pq_adc_retrieve",
      s"""WITH $duckPqRawCtes,
         |q AS (SELECT vec_id AS qid, s, sub AS qsub, sq AS qsq FROM subq WHERE vec_id < 3),
         |lut AS (
         |  SELECT q.qid, c.s, c.cid, q.qsq + c.csq - 2 * ${dot8("q.qsub", "c.cent")} AS d
         |  FROM q JOIN cb c ON c.s = q.s),
         |adist AS (
         |  SELECT l.qid, c.vec_id, list_sum(list(l.d ORDER BY l.s)) AS dist
         |  FROM codes c JOIN lut l ON l.s = c.s AND l.cid = c.cid AND c.vec_id <> l.qid
         |  GROUP BY 1, 2)
         |SELECT qid, rnk, vec_id AS doc_id, round(dist, 4) AS adist FROM (
         |  SELECT qid, vec_id, dist,
         |    row_number() OVER (PARTITION BY qid ORDER BY round(dist, 4), vec_id) AS rnk
         |  FROM adist) t
         |WHERE rnk <= $PqTopK""".stripMargin) { (s, dir) =>
      val embs = Tables.load(s, dir, "embeddings")
      val sub = pqSub(embs)
      val cb = pqCodebooks(embs)
      val codes = pqAssign(sub, cb)
      val q = sub.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("s"), col("sub").as("qsub"), col("sq").as("qsq"))
      val lut = q.join(broadcast(cb), Seq("s"))
        .selectExpr("qid", "s", "cid", "qsq + csq - 2 * vec_dot(qsub, cent) AS d")
      val adist = codes.join(lut, Seq("s", "cid"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(expr("aggregate(transform(array_sort(collect_list(struct(s, d))), x -> x.d), " +
          "0D, (acc, v) -> acc + v)").as("dist"))
      val w = Window.partitionBy(col("qid")).orderBy(round(col("dist"), 4), col("vec_id"))
      adist.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= PqTopK)
        .select(col("qid"), col("rnk"), col("vec_id").as("doc_id"),
          round(col("dist"), 4).as("adist"))
    }
  }

  /** s4 geometry. Cells every 100th id (k1 = N/100 GROWS with the corpus —
    * what keeps per-query candidate work constant); super-cells every
    * [[KnnJoinSupStride]]-th id (k2 = N/supStride, the ONLY corpus-∝
    * broadcast left in the pipeline, and the knob: at production N set
    * supStride ≈ N/√k1 so k2 ≈ √k1 — e.g. N=10^9, k1=10^7 → k2 ≈ 3.2k
    * rows, a kilobyte-scale broadcast; deeper trees push toward log).
    */
  val KnnJoinSupStride = 200

  /** Supers probed per vector (c5's [[graft.operators.ClusterOps.HierProbes]]
    * convention) — repairs most super-boundary misassignments.
    */
  val KnnJoinSupProbes = 2

  /** SDC shortlist depth per query: candidates ranked by symmetric PQ
    * distance, only this many exact-reranked (the e10 refine discipline
    * applied to the self-join).
    */
  val KnnJoinShortlist = 10

  /** Max members per (cell, salt) shard — the hot-cell salting cap. On
    * clustered corpora (every dedup corpus is one) cell population skews;
    * the cap bounds each reducer's |P_c|×|M_shard| block regardless of
    * skew, at the price of replicating each probe row across the cell's
    * shards. Salting never changes the candidate SET (every probe still
    * meets every member across shards), so it is oracle-invisible.
    */
  val KnnJoinCellCap = 256

  /** SDC approximate dot of two PQ code arrays via the broadcast flat pair
    * table `tflat` (index s·K² + ci·K + cj, 1-based): the symmetric
    * distance computation of Jégou, Douze & Schmid (TPAMI 2011) — both
    * sides compressed, the self-join case where e9's asymmetric LUTs are
    * impossible (every vector is a query; per-query LUTs would be
    * corpus-sized). A codegen'd 8-term fold in subspace order, bit-equal
    * to the oracle's `list_sum(list(d ORDER BY s))`.
    */
  private def sdcExpr(q: String, n: String): String =
    s"aggregate(sequence(0, ${PqSubspaces - 1}), 0D, (acc, s) -> " +
      s"acc + element_at(tflat, s * ${PqK * PqK} + element_at($q, s + 1) * $PqK + element_at($n, s + 1) + 1))"

  /** The s4 oracle chain as a reusable CTE list ending in `knn`
    * (qid, neighbor, cosine, rnk <= 3) — c6 composes components on top of
    * it, so oracle and engine agree on the exact same graph. Replays
    * [[knnJoin]] CTE-for-stage: e8's PQ train+encode ([[duckPqRawCtes]]),
    * the SDC pair table, two-level cell assignment (exact vector→super,
    * SDC vector→cell within probed supers), banded candidates, SDC
    * shortlist, exact rerank. Salting is physical-only and has no CTE.
    */
  private[operators] val duckKnnJoinCtes: String =
    s"""e AS (SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings),
       |$duckPqRawCtes,
       |sdct AS (
       |  SELECT a.s, a.cid AS ci, b.cid AS cj, ${duckDot8("a.cent", "b.cent")} AS d
       |  FROM cb a JOIN cb b ON b.s = a.s),
       |sups AS (SELECT vec_id AS sup, embedding AS semb, nrm AS snrm
       |  FROM e WHERE vec_id % $KnnJoinSupStride = 0),
       |vsup AS (
       |  SELECT vec_id, nrm, sup FROM (
       |    SELECT e.vec_id, e.nrm, s.sup,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckDot64("s.semb", "e.embedding")} / (s.snrm * e.nrm) DESC, s.sup) AS srn
       |    FROM e, sups s) t WHERE srn <= $KnnJoinSupProbes),
       |csup AS (
       |  SELECT sup, cid, cnrm FROM (
       |    SELECT c.vec_id AS cid, c.nrm AS cnrm, s.sup,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY ${duckDot64("s.semb", "c.embedding")} / (s.snrm * c.nrm) DESC, s.sup) AS srn
       |    FROM e c, sups s WHERE c.vec_id % 100 = 0) t WHERE srn = 1),
       |cellrank AS (
       |  SELECT vec_id, cid, rn FROM (
       |    SELECT a.vec_id, a.cid,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY a.acos DESC, a.cid) AS rn
       |    FROM (
       |      SELECT v.vec_id, c.cid,
       |        list_sum(list(t.d ORDER BY t.s)) / (v.nrm * c.cnrm) AS acos
       |      FROM vsup v JOIN csup c USING (sup)
       |      JOIN codes q ON q.vec_id = v.vec_id
       |      JOIN codes n ON n.vec_id = c.cid AND n.s = q.s
       |      JOIN sdct t ON t.s = q.s AND t.ci = q.cid AND t.cj = n.cid
       |      GROUP BY v.vec_id, c.cid, v.nrm, c.cnrm) a) b),
       |cand AS (
       |  SELECT p.vec_id AS qid, m.vec_id AS neighbor
       |  FROM (SELECT vec_id, cid FROM cellrank WHERE rn <= 2) p
       |  JOIN (SELECT vec_id, cid FROM cellrank WHERE rn = 1) m
       |    ON m.cid = p.cid AND m.vec_id <> p.vec_id),
       |cscore AS (
       |  SELECT c.qid, c.neighbor,
       |    list_sum(list(t.d ORDER BY t.s)) / (eq.nrm * en.nrm) AS acos
       |  FROM cand c
       |  JOIN codes q ON q.vec_id = c.qid
       |  JOIN codes n ON n.vec_id = c.neighbor AND n.s = q.s
       |  JOIN sdct t ON t.s = q.s AND t.ci = q.cid AND t.cj = n.cid
       |  JOIN e eq ON eq.vec_id = c.qid
       |  JOIN e en ON en.vec_id = c.neighbor
       |  GROUP BY c.qid, c.neighbor, eq.nrm, en.nrm),
       |shortl AS (
       |  SELECT qid, neighbor FROM (
       |    SELECT qid, neighbor,
       |      row_number() OVER (PARTITION BY qid ORDER BY round(acos, 4) DESC, neighbor) AS srn
       |    FROM cscore) t WHERE srn <= $KnnJoinShortlist),
       |knn AS (
       |  SELECT qid, neighbor, round(cos, 4) AS cosine, rnk FROM (
       |    SELECT qid, neighbor, cos,
       |      row_number() OVER (PARTITION BY qid ORDER BY round(cos, 4) DESC, neighbor) AS rnk
       |    FROM (
       |      SELECT s.qid, s.neighbor,
       |        ${duckDot64("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
       |      FROM shortl s
       |      JOIN e q ON q.vec_id = s.qid
       |      JOIN e n ON n.vec_id = s.neighbor) x) t
       |  WHERE rnk <= 3)""".stripMargin

  /** s4: distributed k-NN JOIN — the k-NN GRAPH build (top-3 neighbors
    * for EVERY vector, not a handful of probe queries), the primitive
    * behind graph-based curation (SemDeDup cluster pruning,
    * connected-component near-dup grouping, c6's mutual-kNN clusters) at
    * corpus scale.
    *
    * s1/s2 broadcast the QUERY side — fine for Q ~ 10^2, impossible when
    * every corpus vector is a query. The round-15 shape shipped RAW
    * 64-float vectors through the cell shuffle (~0.5 KB/row, measured
    * ~13 GB at the rung's 16×) behind a flat `broadcast(cents)` that
    * grows with N — correct, but a scale-killer on clustered corpora.
    * This shape wires in the rung's own three fixes:
    *
    *   1. PQ CODES through every corpus-sized shuffle (8 bytes + norm per
    *      row, 32× lighter than vectors), scored by SDC against the
    *      broadcast 8×16×16 pair table; only the per-query shortlist of
    *      [[KnnJoinShortlist]] winners re-attaches float vectors — by a
    *      UNIFORM vec_id-keyed equi join (e1's discipline), never on the
    *      skewed cell key.
    *   2. TWO-LEVEL assignment (c5's shape): the only broadcast relations
    *      are the supers (k2 ≈ √k1 at production settings) and the
    *      codebook tables; vectors meet their super's centroids via a
    *      sup-keyed equi join of code rows, not an N×k1 broadcast
    *      product.
    *   3. HOT-CELL SALTING: member cells split into ≤[[KnnJoinCellCap]]
    *      shards, probes replicated per shard — per-reducer blocks stay
    *      bounded under the skew the 16× rung measured (816 cand/query),
    *      without changing the candidate set.
    */
  val s4 = Q(
    "s4_knn_join_ivf",
    s"""WITH $duckKnnJoinCtes
       |SELECT qid, neighbor, cosine, rnk FROM knn""".stripMargin) { (s, dir) =>
    knnJoin(Tables.load(s, dir, "embeddings"))
  }

  /** PQ codes packed one row per vector `(vec_id, codes: array<int>)` —
    * the 8-byte-per-vector shape every corpus-sized s4 shuffle carries.
    */
  def packedCodes(embs: DataFrame, cb: DataFrame): DataFrame =
    pqEncode(embs, cb)
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, cid))), x -> x.cid)")
        .as("codes"))

  /** SDC pair table T[s][ci][cj] = <cent_si, cent_sj>, flattened to ONE
    * broadcast row (8·16·16 doubles) — k-bounded at any corpus size.
    */
  def sdcPairTable(cb: DataFrame): DataFrame =
    cb.selectExpr("s", "cid AS ci", "cent AS centi")
      .join(cb.selectExpr("s", "cid AS cj", "cent AS centj"), Seq("s"))
      .select(struct(
        (col("s") * (PqK * PqK) + col("ci") * PqK + col("cj")).as("k"),
        expr("vec_dot(centi, centj)").as("d")).as("kd"))
      .agg(expr("transform(array_sort(collect_list(kd)), x -> x.d)").as("tflat"))

  /** Two-level SDC cell assignment over `(vec_id, embedding, nrm)` rows:
    * exact vector→super scoring against the bounded super broadcast (a map
    * stage over the scan — raw vectors never shuffle here), then
    * SDC-approximate vector→cell ranking WITHIN the probed supers via a
    * sup-keyed equi join of code rows. Returns
    * `(vec_id, nrm, codes, cid, rn)` — rn = 1 is the member cell,
    * rn <= 2 the probe cells. Exposed for the ScaleProbe knnjoin rung's
    * candidate/skew census.
    */
  def knnJoinAssign(
      e: DataFrame,
      vcodes: DataFrame,
      tflat: DataFrame,
      stride: Int = 100,
      supStride: Int = KnnJoinSupStride): DataFrame = {
    val sups = e.filter(col("vec_id") % supStride === 0)
      .selectExpr("vec_id AS sup", "embedding AS semb", "nrm AS snrm")
    def topSups(src: DataFrame, keep: Int): DataFrame = {
      val scored = src.join(broadcast(sups))
        .selectExpr("vec_id", "nrm", "sup",
          s"${dotExpr("semb", "embedding")} / (snrm * nrm) AS scos")
      if (keep == 1)
        // top-1 as an argmax aggregate (s2's discipline): max over
        // struct(scos, -sup) == the window's orderBy(scos DESC, sup ASC)
        // rank 1; nrm is constant per vec_id so the winner carries it.
        scored.groupBy(col("vec_id"))
          .agg(max_by(struct(col("nrm"), col("sup")),
            struct(col("scos"), -col("sup"))).as("w"))
          .select(col("vec_id"), col("w.nrm").as("nrm"), col("w.sup").as("sup"))
      else {
        val w = Window.partitionBy(col("vec_id")).orderBy(col("scos").desc, col("sup"))
        scored.withColumn("srn", row_number().over(w)).filter(col("srn") <= keep)
          .select("vec_id", "nrm", "sup")
      }
    }
    val vsup = topSups(e, KnnJoinSupProbes)
    val csup = topSups(e.filter(col("vec_id") % stride === 0), 1)
      .selectExpr("sup", "vec_id AS cid", "nrm AS cnrm")
      .join(vcodes.selectExpr("vec_id AS cid", "codes AS ccodes"), Seq("cid"))
    // within-super cell ranking by SDC cosine: the sup-keyed shuffle
    // carries codes + norms only
    val wCell = Window.partitionBy(col("vec_id")).orderBy(col("acos").desc, col("cid"))
    vsup.join(vcodes, Seq("vec_id"))
      .join(csup, Seq("sup"))
      .crossJoin(broadcast(tflat))
      .selectExpr("vec_id", "nrm", "codes", "cid",
        s"${sdcExpr("codes", "ccodes")} / (nrm * cnrm) AS acos")
      .withColumn("rn", row_number().over(wCell))
  }

  /** The s4 operator as a reusable pipeline over any (vec_id, embedding)
    * relation — see [[s4]]'s scaladoc for the scale design. Cells every
    * `stride`-th id (N/stride cells: cell count GROWS with the corpus,
    * which is what keeps per-query candidate work constant; the
    * ScaleProbe `knnjoin` rung pins the law against the fixed-cell-count
    * geometry that degrades quadratically).
    */
  def knnJoin(
      raw: DataFrame,
      stride: Int = 100,
      supStride: Int = KnnJoinSupStride,
      topK: Int = 3,
      shortlist: Int = KnnJoinShortlist,
      cellCap: Int = KnnJoinCellCap): DataFrame = {
    val embs = raw.select(col("vec_id"), col("embedding"))
    val e = embs.selectExpr("vec_id", "embedding", s"${normExpr("embedding")} AS nrm")
    // ---- PQ train + encode: e8's certified quantizer, packed per vector.
    // The train/encode/assignment stages are materialized ONCE
    // (localCheckpoint): cb and tflat are k-bounded, vcodes/ranked are
    // corpus-sized SCALAR rows (~16 B/vector) — without the pin, the
    // multi-branch plan (members+probes, csup, both SDC stages) recomputes
    // the whole Lloyd train per branch.
    val cb = pqCodebooks(embs).localCheckpoint()
    val vcodes = packedCodes(embs, cb).localCheckpoint()
    val tflat = sdcPairTable(cb).localCheckpoint()
    val ranked = knnJoinAssign(e, vcodes, tflat, stride, supStride).localCheckpoint()
    val members = ranked.filter(col("rn") === 1)
      .select(col("cid").as("cell"), col("vec_id").as("neighbor"),
        col("codes").as("ncodes"), col("nrm").as("nnrm"))
    val probes = ranked.filter(col("rn") <= 2)
      .select(col("cid").as("cell"), col("vec_id").as("qid"),
        col("codes").as("qcodes"), col("nrm").as("qnrm"))
    // ---- hot-cell salting: shard count from the member census (k1-row
    // relation, equi-joined on the cell key — linear scalar rows, not the
    // quadratic join output the salt exists to bound)
    val shards = members.groupBy(col("cell"))
      .agg(ceil(count(lit(1)).cast("double") / cellCap).cast("int").as("nshards"))
    val membersS = members.join(shards, Seq("cell"))
      .withColumn("salt", pmod(col("neighbor"), col("nshards")).cast("int"))
    val probesS = probes.join(shards, Seq("cell"))
      .withColumn("salt", explode(expr("sequence(0, nshards - 1)")))
    // the scale-defining join: both sides corpus-sized CODE rows,
    // co-partitioned on (cell, salt), shuffle-hash pinned (broadcast here
    // would OOM at real N; at small SF AQE would happily pick the plan
    // that dies at 100 TB)
    val scored = probesS.hint("shuffle_hash")
      .join(membersS.hint("shuffle_hash"), Seq("cell", "salt"))
      .filter(col("neighbor") =!= col("qid"))
      .crossJoin(broadcast(tflat))
      .selectExpr("qid", "neighbor",
        s"${sdcExpr("qcodes", "ncodes")} / (qnrm * nnrm) AS acos")
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(round(col("acos"), 4).desc, col("neighbor"))
    val shortl = scored.withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= shortlist).select("qid", "neighbor")
    // ---- exact rerank of the id-only shortlist: float vectors re-attach
    // by uniform vec_id equi joins (e1's discipline — never on the cell key)
    val exact = shortl
      .join(e.selectExpr("vec_id AS qid", "embedding AS qemb", "nrm AS qnrm"), Seq("qid"))
      .join(e.selectExpr("vec_id AS neighbor", "embedding AS nemb", "nrm AS nnrm"),
        Seq("neighbor"))
      .selectExpr("qid", "neighbor", s"${dotExpr("qemb", "nemb")} / (qnrm * nnrm) AS cos")
    val w = Window.partitionBy(col("qid")).orderBy(round(col("cos"), 4).desc, col("neighbor"))
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("neighbor"), round(col("cos"), 4).as("cosine"), col("rnk"))
  }

  /** Cells an e9 query probes (s2/c5's 2-probe convention). */
  val IvfPqProbes = 2

  /** e9: IVF-PQ — the production ANN index, composed from parts this
    * engine already certifies separately: c3's coarse k-means partitions
    * the corpus into cells (the IVF inverted lists), each vector is PQ-
    * encoded on its RESIDUAL x − centroid(cell(x)) (residual magnitudes
    * are much smaller than raw vectors, so the same 8-byte code carries
    * far more precision — the reason every FAISS-style index encodes
    * residuals), and a query probes its [[IvfPqProbes]] nearest cells,
    * scoring ONLY their members by ADC with a per-(query, cell) lookup
    * table built from the query's residual against that cell.
    *
    * Everything reuses certified machinery: the coarse quantizer is
    * literally [[ClusterOps.finalCentroids]]/[[ClusterOps.kmeansAssign]]
    * (c3's oracle chain, spliced into this oracle verbatim), the
    * codebooks are [[pqCodebooks]] on the residual frame (e8's seeded
    * Lloyd), and the scoring is e8's ordered 8-term fold. Residuals are
    * computed element-wise as double-subtract-then-float-cast on both
    * engines (the exact difference of two floats fits a double, so the
    * float rounding is identical). Per-query output is the top-5 by
    * rounded ADC distance with doc_id tie-break.
    *
    * Scale shape — why this is THE 100 TB read path: the corpus exists at
    * scan time only as (vec_id, cell, 8 codes) scalars; a query touches
    * |probed cells| / k of those rows via an equi join on the cell key;
    * LUTs are q × probes × 128 bounded rows, broadcast; centroids and
    * codebooks are k-bounded broadcasts. No float vector is read after
    * the one-time encode — the index is ~32× smaller than the corpus and
    * partition-prunable by cell.
    */
  private def duckDot8(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, $PqSubDim), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
  private def duckDot64(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, 64), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"

  /** The TRAINING prefix of the shared IVF-PQ oracle chain: coarse k-means
    * cells (c3's certified CTEs, with the original corpus's assignment
    * `a2`), residual frame, and the PQ codebook train through `pcb`. Shared
    * by e9/e10 (via [[duckIvfPqCtes]]) and e12, whose ENCODE side runs over
    * a different (upserted) corpus but whose quantizers are trained on the
    * original one — exactly the build/ingest split the Spark side has.
    */
  private val duckIvfPqTrainCtes: String = duckIvfPqTrainCtesOver("embeddings")

  /** [[duckIvfPqTrainCtes]] parameterized on the training corpus: e13's
    * full re-train replays the chain over the post-churn view while e9/e10/
    * e12 keep the byte-identical `embeddings` instantiation.
    */
  private def duckIvfPqTrainCtesOver(src: String): String =
    s"""${ClusterOps.duckKmeansCtesOver(src)},
       |res AS (
       |  SELECT a2.vec_id, a2.cid AS cell,
       |    list_transform(generate_series(1, 64),
       |      i -> (e.embedding[i]::DOUBLE - c.cent[i]::DOUBLE)::FLOAT) AS remb
       |  FROM a2 JOIN e USING (vec_id) JOIN c2 c ON c.cid = a2.cid),
       |rsub AS (
       |  SELECT vec_id, g.s,
       |    list_transform(generate_series(1, $PqSubDim), i -> remb[$PqSubDim * g.s + i]) AS sub
       |  FROM res, (SELECT unnest(generate_series(0, ${PqSubspaces - 1})) AS s) g),
       |rsubq AS (SELECT vec_id, s, sub, ${duckDot8("sub", "sub")} AS sq FROM rsub),
       |seed_ids AS (SELECT vec_id FROM $src ORDER BY vec_id LIMIT $PqK),
       |pseeds AS (
       |  SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cid,
       |    sub AS cent, sq AS csq
       |  FROM rsubq WHERE vec_id IN (SELECT vec_id FROM seed_ids)),
       |pa1 AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT b.vec_id, b.s, c.cid,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s
       |        ORDER BY b.sq + c.csq - 2 * ${duckDot8("b.sub", "c.cent")}, c.cid) AS rn
       |    FROM rsubq b JOIN pseeds c ON c.s = b.s) t WHERE rn = 1),
       |pupd AS (
       |  SELECT a.s, a.cid, i.i, avg(b.sub[i.i])::FLOAT AS m
       |  FROM pa1 a JOIN rsubq b ON b.vec_id = a.vec_id AND b.s = a.s,
       |    (SELECT unnest(generate_series(1, $PqSubDim)) AS i) i
       |  GROUP BY 1, 2, 3),
       |pcb AS (
       |  SELECT s, cid, list(m ORDER BY i) AS cent,
       |    list_sum(list_transform(list(m ORDER BY i), x -> x::DOUBLE * x::DOUBLE)) AS csq
       |  FROM pupd GROUP BY 1, 2)""".stripMargin

  /** e9/e10's shared oracle chain: [[duckIvfPqTrainCtes]] plus the original
    * corpus's encode, query probes, LUTs, and the ADC distance relation
    * `adist(qid, vec_id, dist)` — e9 tops it at PqTopK, e10 shortlists it
    * and exact-re-ranks.
    */
  private val duckIvfPqCtes: String = duckIvfPqCtesOver("embeddings")

  /** [[duckIvfPqCtes]] parameterized on the corpus relation (train, encode,
    * AND query vectors all come from `src`) — e13 instantiates it over the
    * post-churn `cur` to replay a full rebuild-and-serve.
    */
  private def duckIvfPqCtesOver(src: String): String =
    s"""${duckIvfPqTrainCtesOver(src)},
       |codes AS (
       |  SELECT vec_id, s, cid AS code FROM (
       |    SELECT b.vec_id, b.s, c.cid,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s
       |        ORDER BY b.sq + c.csq - 2 * ${duckDot8("b.sub", "c.cent")}, c.cid) AS rn
       |    FROM rsubq b JOIN pcb c ON c.s = b.s) t WHERE rn = 1),
       |qp AS (
       |  SELECT qid, cell, ccent FROM (
       |    SELECT e.vec_id AS qid, c.cid AS cell, c.cent AS ccent,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY e.sq + c.csq - 2 * ${duckDot64("e.embedding", "c.cent")}, c.cid) AS rn
       |    FROM e, c2 c WHERE e.vec_id < 3) t WHERE rn <= $IvfPqProbes),
       |qres AS (
       |  SELECT qp.qid, qp.cell,
       |    list_transform(generate_series(1, 64),
       |      i -> (e.embedding[i]::DOUBLE - qp.ccent[i]::DOUBLE)::FLOAT) AS remb
       |  FROM qp JOIN e ON e.vec_id = qp.qid),
       |qrsub AS (
       |  SELECT qid, cell, g.s,
       |    list_transform(generate_series(1, $PqSubDim), i -> remb[$PqSubDim * g.s + i]) AS sub
       |  FROM qres, (SELECT unnest(generate_series(0, ${PqSubspaces - 1})) AS s) g),
       |qrsubq AS (SELECT qid, cell, s, sub, ${duckDot8("sub", "sub")} AS sq FROM qrsub),
       |lut AS (
       |  SELECT q.qid, q.cell, c.s, c.cid AS code,
       |    q.sq + c.csq - 2 * ${duckDot8("q.sub", "c.cent")} AS d
       |  FROM qrsubq q JOIN pcb c ON c.s = q.s),
       |scored AS (
       |  SELECT l.qid, c.vec_id, l.s, l.d
       |  FROM codes c
       |  JOIN res r ON r.vec_id = c.vec_id
       |  JOIN lut l ON l.cell = r.cell AND l.s = c.s AND l.code = c.code
       |    AND c.vec_id <> l.qid),
       |adist AS (
       |  SELECT qid, vec_id, list_sum(list(d ORDER BY s)) AS dist
       |  FROM scored GROUP BY 1, 2)""".stripMargin

  val e9 = {
    Q(
      "e9_ivfpq_retrieve",
      s"""WITH $duckIvfPqCtes
         |SELECT qid, rnk, vec_id AS doc_id, round(dist, 4) AS adist FROM (
         |  SELECT qid, vec_id, dist,
         |    row_number() OVER (PARTITION BY qid ORDER BY round(dist, 4), vec_id) AS rnk
         |  FROM adist) t
         |WHERE rnk <= $PqTopK""".stripMargin) { (s, dir) =>
      ivfpqRetrieve(Tables.load(s, dir, "embeddings"))
    }
  }

  /** e9's materialized index: coarse cell centroids (`cid, cent, csq`),
    * residual PQ codebooks (`s, cid, cent, csq`), and the coded corpus as
    * `(vec_id, cell, s, code)` scalars — the three relations a production
    * deployment persists once (parquet, partitioned by cell) and serves
    * every query from. The ScaleProbe `ivfpqscan` rung prices exactly that
    * split: build-once vs read-back-and-scan.
    */
  final case class IvfPqIndex(cents: DataFrame, cb: DataFrame, codes: DataFrame)

  /** Index BUILD — the corpus-linear stage (coarse k-means, residual PQ
    * codebook train, encode). Centroids/codebooks are k-bounded and
    * localCheckpoint'ed; `codes` is returned lazy so callers choose the
    * materialization (the registered query folds it into one job, the
    * scan rung persists it to parquet).
    */
  def ivfpqBuild(embs: DataFrame): IvfPqIndex = {
      val cents = ClusterOps.finalCentroids(embs).localCheckpoint()
      // assign against the PINNED centroids — kmeansAssign would re-run
      // the whole seeded Lloyd train once per consumer of the codes
      val assign = ClusterOps.kmeansAssignWith(embs, cents)
        .select(col("vec_id"), col("cid").as("cell"))
      val res = embs.join(assign, Seq("vec_id"))
        .join(broadcast(cents.selectExpr("cid AS cell", "cent AS ccent")), Seq("cell"))
        .selectExpr("vec_id", "cell",
          "zip_with(embedding, ccent, (a, b) -> CAST(CAST(a AS DOUBLE) - CAST(b AS DOUBLE) AS FLOAT)) AS remb")
      val rEmb = res.selectExpr("vec_id", "remb AS embedding")
      val cb = pqCodebooks(rEmb).localCheckpoint()
      val codes = pqAssign(pqSub(rEmb), cb)
        .select(col("vec_id"), col("s"), col("cid").as("code"))
        .join(res.select("vec_id", "cell"), Seq("vec_id"))
      IvfPqIndex(cents, cb, codes)
  }

  /** Index SCAN — the per-query read path: probe the `nProbes` nearest
    * cells, build the per-(query, cell) residual LUT against the broadcast
    * codebooks, and score ONLY the probed cells' code rows via one
    * (cell, s, code) equi join + the ordered 8-term fold. `topK` is the
    * returned depth; pass a large value to see every scored candidate
    * (the probes-ladder's cost denominator).
    */
  def ivfpqScan(queries: DataFrame, idx: IvfPqIndex,
      nProbes: Int = IvfPqProbes, topK: Int = PqTopK): DataFrame = {
      val q = queries
        .selectExpr("vec_id AS qid", "embedding AS qemb", "vec_dot(embedding, embedding) AS qsq")
      val wProbe = Window.partitionBy(col("qid")).orderBy(col("d"), col("cell"))
      val probes = q.join(broadcast(idx.cents.selectExpr("cid AS cell", "cent AS ccent", "csq AS ccsq")))
        .selectExpr("qid", "qemb", "cell", "ccent",
          "qsq + ccsq - 2 * vec_dot(qemb, ccent) AS d")
        .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nProbes)
      val qrsub = probes
        .selectExpr("qid", "cell",
          "zip_with(qemb, ccent, (a, b) -> CAST(CAST(a AS DOUBLE) - CAST(b AS DOUBLE) AS FLOAT)) AS remb")
        .select(col("qid"), col("cell"), explode(expr(pqSlice("remb"))).as("e"))
        .selectExpr("qid", "cell", "e.s AS s", "e.sub AS sub", "vec_dot(e.sub, e.sub) AS sq")
      val lut = qrsub.join(broadcast(idx.cb), Seq("s"))
        .selectExpr("qid", "cell", "s", "cid AS code",
          "sq + csq - 2 * vec_dot(sub, cent) AS d")
      val adist = idx.codes
        .join(lut, Seq("cell", "s", "code"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(expr("aggregate(transform(array_sort(collect_list(struct(s, d))), x -> x.d), " +
          "0D, (acc, v) -> acc + v)").as("dist"))
      val wTop = Window.partitionBy(col("qid")).orderBy(round(col("dist"), 4), col("vec_id"))
      adist.withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= topK)
        .select(col("qid"), col("rnk"), col("vec_id").as("doc_id"),
          round(col("dist"), 4).as("adist"))
  }

  /** e9's full pipeline over any `embeddings`-shaped relation (exposed for
    * the ScaleProbe corpus ladder: queries stay fixed at vec_id < 3 while
    * the corpus multiplies, so the rung isolates index-BUILD cost — the
    * corpus-linear stage — from the cell-bounded scan).
    */
  def ivfpqRetrieve(embs: DataFrame, nProbes: Int = IvfPqProbes): DataFrame =
    ivfpqScan(embs.filter(col("vec_id") < 3), ivfpqBuild(embs), nProbes)

  /** e10's ADC shortlist depth — the fetch-cost/recall dial: only this
    * many float vectors are ever read per query. Measured on the fixture
    * (worst-case near-uniform vectors, raw ADC recall@5 ~0.20): depth 20
    * recovers 0.47, depth 50 recovers 0.87 (BENCH_NOTES round 10).
    */
  val RefineShortlist = 50

  /** e10: IVF-PQ + EXACT RE-RANK — the FAISS "refine" read path, and the
    * resolution of the probes-ladder finding (BENCH_NOTES round 10): on
    * this corpus cell COVERAGE saturates at one probe while raw ADC
    * recall@5 sits at ~0.2, i.e. the true neighbors are IN the probed
    * cells but the 8-byte codes rank them imprecisely. The fix every
    * production deployment ships is two-stage: ADC scores ALL probed code
    * rows cheaply (8 bytes each, no float vector ever read), keeps a
    * [[RefineShortlist]]-deep shortlist, and re-ranks ONLY those by exact
    * squared-L2 against the raw vectors — so the expensive float fetch is
    * `shortlist` rows per query instead of probes/k of the corpus (s2's
    * exact-over-all-candidates shape, which stops fitting once cells hold
    * millions of vectors).
    *
    * Scale shape: the shortlist is a per-query top-R over e9's certified
    * scan — tiny — and the vector fetch is a broadcast-able shortlist
    * joined to the corpus on its PRIMARY KEY (vec_id), the same
    * point-lookup join e4 certifies. Query vectors (3 rows) broadcast.
    * Nothing corpus × corpus; the only corpus-wide work remains the
    * one-time index build.
    */
  val e10 = Q(
    "e10_ivfpq_refine",
    s"""WITH $duckIvfPqCtes,
       |short AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY round(dist, 4), vec_id) AS rnk
       |    FROM adist) t WHERE rnk <= $RefineShortlist),
       |rerank AS (
       |  SELECT s.qid, s.vec_id,
       |    eq.sq + ev.sq - 2 * ${duckDot64("eq.embedding", "ev.embedding")} AS dist
       |  FROM short s
       |  JOIN e eq ON eq.vec_id = s.qid
       |  JOIN e ev ON ev.vec_id = s.vec_id)
       |SELECT qid, rnk, vec_id AS doc_id, round(dist, 4) AS edist FROM (
       |  SELECT qid, vec_id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY round(dist, 4), vec_id) AS rnk
       |  FROM rerank) t
       |WHERE rnk <= $PqTopK""".stripMargin) { (s, dir) =>
    ivfpqRefine(Tables.load(s, dir, "embeddings"))
  }

  /** e10's pipeline: e9's build + scan to a `shortlist`-deep ADC list,
    * then exact re-rank of only those rows.
    */
  def ivfpqRefine(embs: DataFrame, nProbes: Int = IvfPqProbes,
      shortlist: Int = RefineShortlist): DataFrame = {
    val idx = ivfpqBuild(embs)
    val q = embs.filter(col("vec_id") < 3)
    val short = ivfpqScan(q, idx, nProbes, shortlist).select(col("qid"), col("doc_id"))
    exactRerank(embs, q, short)
  }

  /** e15: METADATA-FILTERED ANN — the one production vector-store shape
    * the lifecycle family leaves open: a dimension predicate combined with
    * top-k ("nearest docs WHERE label < 4"). Two textbook strategies:
    *
    *   - PRE-FILTER (this function): mask the candidate code rows by the
    *     allowed-id set BEFORE scoring, so the scan ranks every allowed
    *     candidate in the probed cells and the full top-k budget is spent
    *     on rows that satisfy the predicate. The mask is a broadcast
    *     LEFT SEMI join on the codes' primary key — O(|allowed|) broadcast
    *     bytes, zero extra shuffle (the codes-side join collapses into the
    *     same cell-keyed scan e9 runs), never a corpus re-encode.
    *   - POST-FILTER ([[ivfpqPostFilteredScan]]): run the unfiltered scan,
    *     then drop disallowed rows from the top-k. Cheaper bookkeeping but
    *     recall decays with predicate selectivity — a k-deep unfiltered
    *     list keeps ~selectivity·k allowed rows. The property suite pins
    *     pre >= post at equal probe + candidate budget.
    *
    * At 100 TB the allowed set itself can exceed broadcast size; the same
    * plan then runs with the semi join as a shuffle join on vec_id, or the
    * predicate column is denormalized into the codes relation at encode
    * time and the mask becomes a pushed-down scan filter — the first shape
    * preserved by expressing the mask as a relational join rather than a
    * driver-side set, the second implemented as [[e16]]/[[ivfpqDenormBuild]].
    */
  def ivfpqFilteredScan(queries: DataFrame, idx: IvfPqIndex, allowed: DataFrame,
      nProbes: Int = IvfPqProbes, topK: Int = PqTopK): DataFrame =
    ivfpqScan(queries,
      IvfPqIndex(idx.cents, idx.cb,
        idx.codes.join(broadcast(allowed.select("vec_id")), Seq("vec_id"), "left_semi")),
      nProbes, topK)

  /** The post-filter baseline: unfiltered scan to `fetchK`, then keep the
    * allowed rows and re-rank the survivors to `topK`. At fetchK == topK
    * this is the equal-budget comparison point the property suite pins;
    * production deployments over-fetch (fetchK = c·topK/selectivity) to
    * buy recall back at the cost of scoring depth.
    */
  def ivfpqPostFilteredScan(queries: DataFrame, idx: IvfPqIndex, allowed: DataFrame,
      nProbes: Int = IvfPqProbes, fetchK: Int = PqTopK, topK: Int = PqTopK): DataFrame = {
    val kept = ivfpqScan(queries, idx, nProbes, fetchK)
      .join(broadcast(allowed.select(col("vec_id").as("doc_id"))), Seq("doc_id"), "left_semi")
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("doc_id"))
    kept.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select("qid", "rnk", "doc_id", "adist")
  }

  /** The refine stage shared by e10/e11: exact squared-L2 re-rank of a
    * per-query shortlist against the raw-vector table, top-[[PqTopK]].
    */
  private[graft] def exactRerank(corpus: DataFrame, q: DataFrame, short: DataFrame): DataFrame = {
    val qv = q.selectExpr("vec_id AS qid", "embedding AS qemb",
      "vec_dot(embedding, embedding) AS qsq")
    val dv = corpus.selectExpr("vec_id AS doc_id", "embedding AS demb",
      "vec_dot(embedding, embedding) AS dsq")
    // broadcast the SHORTLIST, not the corpus: it is <= queries * shortlist
    // rows by construction, while dv is the full raw-vector table — without
    // the hint the optimizer's size estimate picks dv at fixture scale,
    // a shape that inverts at 100 TB
    val rer = broadcast(short)
      .join(dv, Seq("doc_id")) // PK point-fetch: shortlist rows, not cells
      .join(broadcast(qv), Seq("qid"))
      .selectExpr("qid", "doc_id", "qsq + dsq - 2 * vec_dot(qemb, demb) AS dist")
    val w = Window.partitionBy(col("qid")).orderBy(round(col("dist"), 4), col("doc_id"))
    rer.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= PqTopK)
      .select(col("qid"), col("rnk"), col("doc_id"), round(col("dist"), 4).as("edist"))
  }

  /** INCREMENTAL INGEST — the lifecycle edge e9/e10 leave open: production
    * corpora GROW, and rebuilding the index per arriving batch would make
    * ingest cost corpus-linear. FAISS's `add` answers with encode-only
    * ingest: an arriving vector is assigned to its nearest EXISTING coarse
    * cell, its residual is encoded against the EXISTING codebooks (no
    * re-train — quantizer drift is handled by scheduled full rebuilds, not
    * per batch), and its 8-byte code row appends to the cell-partitioned
    * codes. Cost per batch: |batch| × k-bounded broadcast scoring — the
    * corpus is never touched (ScaleProbe `ivfpqingest` measures exactly
    * that: fixed batch against a 1×/4×/16× corpus stays flat).
    *
    * Returns code rows `(vec_id, s, code, cell)` union-compatible with
    * [[IvfPqIndex]].codes.
    */
  def ivfpqIngest(arriving: DataFrame, idx: IvfPqIndex): DataFrame = {
    val e = arriving.selectExpr("vec_id", "embedding",
      "vec_dot(embedding, embedding) AS sq")
    // nearest EXISTING cell as an argmin AGGREGATE (pqAssign's min_by
    // discipline, guide §2.3): min over struct(dist2, cell) == the old
    // window's orderBy(dist2, cell) rank 1; embedding is constant per
    // vec_id so the winner struct carries it along with its cell's cent.
    val assigned = e
      .join(broadcast(idx.cents.selectExpr("cid AS cell", "cent AS ccent", "csq AS ccsq")))
      .selectExpr("vec_id", "embedding", "cell", "ccent",
        "sq + ccsq - 2 * vec_dot(embedding, ccent) AS dist2")
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cell"), col("ccent"), col("embedding")),
        struct(col("dist2"), col("cell"))).as("w"))
      .select(col("vec_id"), col("w.cell").as("cell"),
        col("w.ccent").as("ccent"), col("w.embedding").as("embedding"))
    val res = assigned.selectExpr("vec_id", "cell",
      "zip_with(embedding, ccent, (a, b) -> CAST(CAST(a AS DOUBLE) - CAST(b AS DOUBLE) AS FLOAT)) AS remb")
    pqAssign(pqSub(res.selectExpr("vec_id", "remb AS embedding")), idx.cb)
      .select(col("vec_id"), col("s"), col("cid").as("code"))
      .join(res.select("vec_id", "cell"), Seq("vec_id"))
  }

  /** e11's pipeline: build the index on the EXISTING 80% of the corpus
    * (`vec_id % 5 <> 4`), ingest the ARRIVING 20% via [[ivfpqIngest]]
    * (same centroids/codebooks — assignment and encode are the identical
    * rule on both sides, which is why the oracle can replay them as ONE
    * set of CTEs over the union), then run e10's scan + exact-refine read
    * path over the grown index against the FULL raw corpus.
    */
  def ivfpqGrowRetrieve(embs: DataFrame, nProbes: Int = IvfPqProbes,
      shortlist: Int = RefineShortlist): DataFrame = {
    val existing = embs.filter(col("vec_id") % 5 =!= 4)
    val arriving = embs.filter(col("vec_id") % 5 === 4)
    val idx = ivfpqBuild(existing)
    val grown = IvfPqIndex(idx.cents, idx.cb,
      idx.codes.unionByName(ivfpqIngest(arriving, idx)))
    val q = embs.filter(col("vec_id") < 3)
    val short = ivfpqScan(q, grown, nProbes, shortlist).select(col("qid"), col("doc_id"))
    exactRerank(embs, q, short)
  }

  /** e11: incremental ANN ingest — grow (the fourth lifecycle edge after
    * e9 build, the ivfpqscan split, and e10 refine). The oracle re-trains
    * nothing either: its kmeans/codebook CTEs are filtered to the existing
    * 80% (`vec_id % 5 <> 4` — seeds, train assignment, mean updates) while
    * the ASSIGN and ENCODE CTEs run over the full corpus, exactly the
    * union the Spark side builds, so a dropped arriving batch, a re-train,
    * or an encode drift all break the hash. Read path + output shape are
    * e10's (top-[[PqTopK]] exact-refined per query).
    */
  /** e11's full oracle — shared verbatim by e14: the streamed ingest must
    * serve EXACTLY what the batch ingest serves (micro-batching, the store
    * round-trip, and the kill+restart are implementation detail the result
    * may not observe).
    */
  private val e11GrowSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${duckDot64("embedding", "embedding")} AS sq
       |  FROM embeddings),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cent,
       |    ${duckDot64("embedding", "embedding")} AS csq
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE vec_id % 5 <> 4 ORDER BY vec_id LIMIT ${ClusterOps.KMeansK})),
       |a1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, s.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY e.sq + s.csq - 2 * ${duckDot64("e.embedding", "s.cent")}, s.cid) AS rn
       |    FROM e, seeds s WHERE e.vec_id % 5 <> 4) t WHERE rn = 1),
       |upd AS (
       |  SELECT cid, i, avg(e.embedding[i])::FLOAT AS m
       |  FROM a1 JOIN e USING (vec_id), (SELECT unnest(generate_series(1, 64)) AS i)
       |  GROUP BY 1, 2),
       |c2 AS (
       |  SELECT cid, list(m ORDER BY i) AS cent,
       |    list_sum(list_transform(list(m ORDER BY i), x -> x::DOUBLE * x::DOUBLE)) AS csq
       |  FROM upd GROUP BY 1),
       |a2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY e.sq + c.csq - 2 * ${duckDot64("e.embedding", "c.cent")}, c.cid) AS rn
       |    FROM e, c2 c) t WHERE rn = 1),
       |res AS (
       |  SELECT a2.vec_id, a2.cid AS cell,
       |    list_transform(generate_series(1, 64),
       |      i -> (e.embedding[i]::DOUBLE - c.cent[i]::DOUBLE)::FLOAT) AS remb
       |  FROM a2 JOIN e USING (vec_id) JOIN c2 c ON c.cid = a2.cid),
       |rsub AS (
       |  SELECT vec_id, g.s,
       |    list_transform(generate_series(1, $PqSubDim), i -> remb[$PqSubDim * g.s + i]) AS sub
       |  FROM res, (SELECT unnest(generate_series(0, ${PqSubspaces - 1})) AS s) g),
       |rsubq AS (SELECT vec_id, s, sub, ${duckDot8("sub", "sub")} AS sq FROM rsub),
       |seed_ids AS (SELECT vec_id FROM embeddings
       |             WHERE vec_id % 5 <> 4 ORDER BY vec_id LIMIT $PqK),
       |pseeds AS (
       |  SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cid,
       |    sub AS cent, sq AS csq
       |  FROM rsubq WHERE vec_id IN (SELECT vec_id FROM seed_ids)),
       |pa1 AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT b.vec_id, b.s, c.cid,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s
       |        ORDER BY b.sq + c.csq - 2 * ${duckDot8("b.sub", "c.cent")}, c.cid) AS rn
       |    FROM rsubq b JOIN pseeds c ON c.s = b.s
       |    WHERE b.vec_id % 5 <> 4) t WHERE rn = 1),
       |pupd AS (
       |  SELECT a.s, a.cid, i.i, avg(b.sub[i.i])::FLOAT AS m
       |  FROM pa1 a JOIN rsubq b ON b.vec_id = a.vec_id AND b.s = a.s,
       |    (SELECT unnest(generate_series(1, $PqSubDim)) AS i) i
       |  GROUP BY 1, 2, 3),
       |pcb AS (
       |  SELECT s, cid, list(m ORDER BY i) AS cent,
       |    list_sum(list_transform(list(m ORDER BY i), x -> x::DOUBLE * x::DOUBLE)) AS csq
       |  FROM pupd GROUP BY 1, 2),
       |codes AS (
       |  SELECT vec_id, s, cid AS code FROM (
       |    SELECT b.vec_id, b.s, c.cid,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s
       |        ORDER BY b.sq + c.csq - 2 * ${duckDot8("b.sub", "c.cent")}, c.cid) AS rn
       |    FROM rsubq b JOIN pcb c ON c.s = b.s) t WHERE rn = 1),
       |qp AS (
       |  SELECT qid, cell, ccent FROM (
       |    SELECT e.vec_id AS qid, c.cid AS cell, c.cent AS ccent,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY e.sq + c.csq - 2 * ${duckDot64("e.embedding", "c.cent")}, c.cid) AS rn
       |    FROM e, c2 c WHERE e.vec_id < 3) t WHERE rn <= $IvfPqProbes),
       |qres AS (
       |  SELECT qp.qid, qp.cell,
       |    list_transform(generate_series(1, 64),
       |      i -> (e.embedding[i]::DOUBLE - qp.ccent[i]::DOUBLE)::FLOAT) AS remb
       |  FROM qp JOIN e ON e.vec_id = qp.qid),
       |qrsub AS (
       |  SELECT qid, cell, g.s,
       |    list_transform(generate_series(1, $PqSubDim), i -> remb[$PqSubDim * g.s + i]) AS sub
       |  FROM qres, (SELECT unnest(generate_series(0, ${PqSubspaces - 1})) AS s) g),
       |qrsubq AS (SELECT qid, cell, s, sub, ${duckDot8("sub", "sub")} AS sq FROM qrsub),
       |lut AS (
       |  SELECT q.qid, q.cell, c.s, c.cid AS code,
       |    q.sq + c.csq - 2 * ${duckDot8("q.sub", "c.cent")} AS d
       |  FROM qrsubq q JOIN pcb c ON c.s = q.s),
       |scored AS (
       |  SELECT l.qid, c.vec_id, l.s, l.d
       |  FROM codes c
       |  JOIN res r ON r.vec_id = c.vec_id
       |  JOIN lut l ON l.cell = r.cell AND l.s = c.s AND l.code = c.code
       |    AND c.vec_id <> l.qid),
       |adist AS (
       |  SELECT qid, vec_id, list_sum(list(d ORDER BY s)) AS dist
       |  FROM scored GROUP BY 1, 2),
       |short AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY round(dist, 4), vec_id) AS rnk
       |    FROM adist) t WHERE rnk <= $RefineShortlist),
       |rerank AS (
       |  SELECT s.qid, s.vec_id,
       |    eq.sq + ev.sq - 2 * ${duckDot64("eq.embedding", "ev.embedding")} AS dist
       |  FROM short s
       |  JOIN e eq ON eq.vec_id = s.qid
       |  JOIN e ev ON ev.vec_id = s.vec_id)
       |SELECT qid, rnk, vec_id AS doc_id, round(dist, 4) AS edist FROM (
       |  SELECT qid, vec_id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY round(dist, 4), vec_id) AS rnk
       |  FROM rerank) t
       |WHERE rnk <= $PqTopK""".stripMargin

  val e11 = Q("e11_ivfpq_ingest", e11GrowSql) { (s, dir) =>
    ivfpqGrowRetrieve(Tables.load(s, dir, "embeddings"))
  }

  /** e14's pipeline: e11's grow, but the arriving 20% STREAMS in — a
    * checkpointed file-stream replay in three micro-batches, each encoded
    * against the v1 quantizers ([[ivfpqIngest]] — row-wise deterministic,
    * so chunking cannot change a code) and appended to the persisted store
    * under a per-batch deterministic path (`ingest/b<id>`, mode=overwrite:
    * the write is idempotent under replay, the same discipline as
    * [[graft.streaming.LakeSink]]'s ledger in one move, since the path IS
    * the batch id). The engine's last commit record is then dropped and
    * the stream restarted — the replayed batch must overwrite, not
    * duplicate. Serve = v1 codes read back through the pointer ∪ the
    * ingest dirs read back cell-partitioned, through e10's scan + refine.
    * At 100 TB: ingest cost ∝ batch (e11's rung), the store append is one
    * small cell-partitioned write per batch, and a scheduled
    * [[ivfpqCompactCodes]] folds ingest dirs into the main codes table.
    */
  def ivfpqStreamIngestRetrieve(spark: SparkSession, embs: DataFrame,
      nProbes: Int = IvfPqProbes, shortlist: Int = RefineShortlist): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val existing = embs.filter(col("vec_id") % 5 =!= 4)
    val arriving = embs.filter(col("vec_id") % 5 === 4)
    val base = graft.streaming.ReplayHarness.scratchDir("graft_ivfpqstream_")
    try {
      val streamDir = java.nio.file.Files.createDirectory(base.resolve("in"))
      val ckpt = base.resolve("ckpt").toString
      val store = base.resolve("store").toString
      // three arrival chunks, published oldest-first for deterministic
      // micro-batch assignment (vec_id-derived, so the split is
      // replayable). Staged CONCURRENTLY with the index build below
      // (guide §2.6) — the chunks are pure functions of the fixture and
      // stay in private stage dirs until the post-build publish loop.
      val now = System.currentTimeMillis()
      val stagePool = java.util.concurrent.Executors.newFixedThreadPool(3)
      val staged = {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(stagePool)
        (0 until 3).map { i =>
          scala.concurrent.Future {
            arriving.filter(pmod(col("vec_id"), lit(3)) === i)
              .select("vec_id", "embedding")
              .coalesce(1).write.parquet(base.resolve(s"stage_$i").toString)
          }
        }
      }
      stagePool.shutdown()
      val idx = ivfpqBuild(existing)
      writeIndexVersion(spark, store, idx, 1)
      (0 until 3).foreach { i =>
        val stage = base.resolve(s"stage_$i")
        scala.concurrent.Await.result(staged(i),
          scala.concurrent.duration.Duration(10, "min"))
        val listing = java.nio.file.Files.list(stage)
        val part = try listing.filter(_.getFileName.toString.startsWith("part-"))
          .findFirst().orElseThrow(() => new IllegalStateException(s"no part in $stage"))
        finally listing.close()
        val target = streamDir.resolve(f"batch_$i%03d.parquet")
        java.nio.file.Files.move(part, target)
        target.toFile.setLastModified(now - (5 - i) * 60000L)
      }
      val v1 = readCurrentIndex(spark, store)._2
      def drain(): Unit = {
        val q = spark.readStream
          .schema(arriving.select("vec_id", "embedding").schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            ivfpqIngest(batch, v1)
              .write.partitionBy("cell").mode("overwrite")
              .parquet(s"$store/ingest/b$batchId")
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain()
      val replayed = graft.streaming.ReplayHarness
        .dropLastCommitRecord(base.resolve("ckpt"))
      System.err.println(s"[e14] dropped engine commit $replayed; " +
        "the restarted ingest must overwrite, not duplicate")
      drain()
      // read the grown index back from the store (pointer + ingest dirs):
      // the same LONG normalization of partition-discovered cells as
      // readCurrentIndex/ivfpqCompactCodes
      val ingested = (0 until 3).map { i =>
        spark.read.parquet(s"$store/ingest/b$i")
          .select(col("vec_id"), col("s"), col("code"),
            col("cell").cast("long").as("cell"))
      }.reduce(_ unionByName _)
      val grown = IvfPqIndex(v1.cents, v1.cb, v1.codes.unionByName(ingested))
      val q = embs.filter(col("vec_id") < 3)
      val short = ivfpqScan(q, grown, nProbes, shortlist)
        .select(col("qid"), col("doc_id"))
      val out = exactRerank(embs, q, short)
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows), out.schema)
    } finally graft.streaming.ReplayHarness.cleanupScratch(base)
  }

  /** e14: STREAMING index ingest — e11's grow edge as a continuously
    * running pipeline (the production shape: embeddings arrive from an
    * upstream model service; the index must grow without a rebuild and
    * without a duplicate under engine recovery). Oracle = e11's, verbatim:
    * the stream, the store round-trip, and the kill+restart must be
    * invisible in the served result — a double-ingested batch (duplicate
    * shortlist candidates), a dropped arrival chunk, or a cell-type drift
    * on read-back each break the hash.
    */
  val e14 = Q("e14_ivfpq_stream_ingest", e11GrowSql) { (s, dir) =>
    ivfpqStreamIngestRetrieve(s, Tables.load(s, dir, "embeddings"))
  }

  /** UPSERT + DELETE — the last lifecycle edge after build (e9), scan
    * (ivfpqscan split), refine (e10), and grow (e11): production corpora
    * also RE-EMBED documents (model upgrades, content edits) and DELETE
    * them (takedowns, retention). The scale-honest mechanics are
    * Lucene/Delta-style tombstones, NOT read-side version resolution:
    *
    *   - an UPDATE is tombstone(old) + [[ivfpqIngest]](new) — the new
    *     embedding may land in a DIFFERENT coarse cell, so any per-cell
    *     "latest version wins" rule is wrong by construction (the stale
    *     ver-0 rows sit in a cell the ingest never touched); masking by
    *     vec_id is the only correct rule;
    *   - a DELETE is a bare tombstone;
    *   - the SCAN serves ver-0 codes anti-joined against the broadcast
    *     tombstone id set, unioned with the ingested ver-1 codes. The mask
    *     is O(|upserted ∪ deleted| since last compaction) — bounded by
    *     ingest cadence, never corpus-sized — and a scheduled compaction
    *     folds it in physically by rewriting only the cells that hold
    *     masked rows (the codes are cell-partitioned, so that rewrite
    *     prunes to dirtied cells).
    *
    * The exact-refine corpus is the current view (updates applied, deletes
    * removed) — a deleted vector must not resurface at re-rank either.
    */
  /** The e12/e13 deterministic churn spec — updated ids (vec_id % 7 = 3)
    * get their embedding rotated one position (pure element copy: no float
    * arithmetic, so both engines reproduce it EXACTLY), deleted ids
    * (vec_id % 11 = 5) vanish. This is the ONE Spark-side definition,
    * shared by e12, e13 and IvfPqStoreSpec; the only copies left to keep
    * in sync are the SQL mirrors inside the two oracles.
    */
  private[graft] val ChurnRotate =
    "transform(sequence(1, 64), i -> element_at(embedding, (i % 64) + 1))"

  /** Rotation applied, deletions NOT removed (e12's tombstone input). */
  private[graft] def churnRotated(embs: DataFrame): DataFrame =
    embs.selectExpr("vec_id",
      s"CASE WHEN vec_id % 7 = 3 THEN $ChurnRotate ELSE embedding END AS embedding")

  /** The re-embedded rows arriving at the ingest path. */
  private[graft] def churnArrivals(embs: DataFrame): DataFrame =
    churnRotated(embs).filter(col("vec_id") % 7 === 3)

  private[graft] def churnUpdatedIds(embs: DataFrame): DataFrame =
    embs.filter(col("vec_id") % 7 === 3).select("vec_id")

  private[graft] def churnDeletedIds(embs: DataFrame): DataFrame =
    embs.filter(col("vec_id") % 11 === 5).select("vec_id")

  /** The post-churn CURRENT view: rotation applied AND deletions removed —
    * what e13 re-trains on and what both specs serve against.
    */
  def churnedView(embs: DataFrame): DataFrame =
    churnRotated(embs.filter(col("vec_id") % 11 =!= 5))

  def ivfpqUpsertRetrieve(embs: DataFrame, nProbes: Int = IvfPqProbes,
      shortlist: Int = RefineShortlist): DataFrame = {
    val cur = churnRotated(embs)
    val updIds = churnUpdatedIds(embs)
    val delIds = churnDeletedIds(embs)
    // ver-0: the original corpus. The codes pin once — they feed the
    // served view AND (via cents/cb, already pinned by the build) the
    // ingest encode; without it the full encode re-executes per branch
    val idx0 = ivfpqBuild(embs)
    val idx = idx0.copy(codes = idx0.codes.localCheckpoint())
    // delete wins over update: an id in both is never re-encoded
    val arriving = churnArrivals(embs)
      .join(delIds, Seq("vec_id"), "left_anti")
    val ver1 = ivfpqIngest(arriving, idx)
    val mask = updIds.union(delIds).distinct()
    val served = idx.codes.join(broadcast(mask), Seq("vec_id"), "left_anti")
      .unionByName(ver1)
    val q = cur.filter(col("vec_id") < 3)
    val short = ivfpqScan(q, IvfPqIndex(idx.cents, idx.cb, served),
      nProbes, shortlist).select(col("qid"), col("doc_id"))
    exactRerank(cur.join(broadcast(delIds), Seq("vec_id"), "left_anti"), q, short)
  }

  /** e12's scheduled maintenance: fold the tombstone mask and the ver-1
    * appends into the MATERIALIZED cell-partitioned codes table
    * physically, rewriting ONLY the dirty cells — cells that hold a
    * masked ver-0 row or receive a ver-1 row. Everything else is
    * byte-untouched (dynamic partition overwrite writes only the
    * partitions present in its input), so compaction cost ∝ churn, not
    * corpus. The dirty-cell set is ≤ the coarse k by construction; it is
    * collected to the driver as the static `cell IN (...)` partition
    * filter — guaranteed partition pruning on the ver-0 read rather than
    * hoping DPP fires. After the fold, serving needs no mask until the
    * next churn batch — the cadence dial the [[ivfpqUpsertRetrieve]]
    * scaladoc describes.
    *
    * Returns the rewritten cell ids (sorted).
    */
  def ivfpqCompactCodes(spark: org.apache.spark.sql.SparkSession,
      codesDir: String, ver1: DataFrame, mask: DataFrame): Seq[Long] = {
    // partition discovery types the cell directory values as INT; normalize
    // to the in-memory codes' LONG so unions and the pruning filter line up
    val ver0 = spark.read.parquet(codesDir)
      .withColumn("cell", col("cell").cast("long"))
    val dirty = ver0.join(broadcast(mask), Seq("vec_id")).select("cell")
      .union(ver1.select(col("cell").cast("long"))).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (dirty.isEmpty) return dirty
    val rewritten = ver0
      .filter(col("cell").isin(dirty: _*)) // static partition pruning
      .join(broadcast(mask), Seq("vec_id"), "left_anti")
      .unionByName(ver1.select(ver0.columns.map(col).toSeq: _*))
      // cut lineage off the directory being overwritten: the write would
      // otherwise read from its own output path
      .localCheckpoint()
    try {
      rewritten.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(codesDir)
      // a dirty cell masked down to ZERO rows appears nowhere in the write,
      // so dynamic overwrite leaves its stale files — drop such leaves
      // explicitly (an emptied inverted list is a deleted directory)
      val survive = rewritten.select("cell").distinct()
        .collect().map(_.getLong(0)).toSet
      val root = new org.apache.hadoop.fs.Path(codesDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      (dirty.toSet -- survive).foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"cell=$c"), true); ()
      }
    } finally graft.core.Checkpoints.release(rewritten)
    dirty
  }

  /** e12: upsert + delete over the IVF-PQ index. The oracle needs no
    * version machinery at all — served codes ≡ encode(current corpus minus
    * deletes) against the ORIGINAL quantizers, which is the whole point of
    * the tombstone design: reads see exactly the current view. It reuses
    * the e9/e10 training prefix verbatim ([[duckIvfPqTrainCtes]] — trained
    * on the original corpus, like the Spark build) and encodes the
    * rotated-where-updated, dropped-where-deleted corpus. A served stale
    * ver-0 row, a missed ingest, a resurfacing delete, or read-side
    * mis-resolution each shifts some query's shortlist and breaks the hash
    * (updated ids sit in the fixture's top-5 — suite-guarded).
    */
  val e12 = Q(
    "e12_ivfpq_upsert",
    s"""WITH $duckIvfPqTrainCtes,
       |cur AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id % 7 = 3
       |      THEN list_transform(generate_series(1, 64), i -> embedding[1 + (i % 64)])
       |      ELSE embedding END AS embedding
       |  FROM embeddings WHERE vec_id % 11 <> 5),
       |curq AS (
       |  SELECT vec_id, embedding, ${duckDot64("embedding", "embedding")} AS sq
       |  FROM cur),
       |a2c AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT b.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY b.sq + c.csq - 2 * ${duckDot64("b.embedding", "c.cent")}, c.cid) AS rn
       |    FROM curq b, c2 c) t WHERE rn = 1),
       |resc AS (
       |  SELECT a2c.vec_id, a2c.cid AS cell,
       |    list_transform(generate_series(1, 64),
       |      i -> (b.embedding[i]::DOUBLE - c.cent[i]::DOUBLE)::FLOAT) AS remb
       |  FROM a2c JOIN curq b USING (vec_id) JOIN c2 c ON c.cid = a2c.cid),
       |rsubc AS (
       |  SELECT vec_id, g.s,
       |    list_transform(generate_series(1, $PqSubDim), i -> remb[$PqSubDim * g.s + i]) AS sub
       |  FROM resc, (SELECT unnest(generate_series(0, ${PqSubspaces - 1})) AS s) g),
       |rsubqc AS (SELECT vec_id, s, sub, ${duckDot8("sub", "sub")} AS sq FROM rsubc),
       |codesc AS (
       |  SELECT vec_id, s, cid AS code FROM (
       |    SELECT b.vec_id, b.s, c.cid,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s
       |        ORDER BY b.sq + c.csq - 2 * ${duckDot8("b.sub", "c.cent")}, c.cid) AS rn
       |    FROM rsubqc b JOIN pcb c ON c.s = b.s) t WHERE rn = 1),
       |qp AS (
       |  SELECT qid, cell, ccent FROM (
       |    SELECT b.vec_id AS qid, c.cid AS cell, c.cent AS ccent,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY b.sq + c.csq - 2 * ${duckDot64("b.embedding", "c.cent")}, c.cid) AS rn
       |    FROM curq b, c2 c WHERE b.vec_id < 3) t WHERE rn <= $IvfPqProbes),
       |qres AS (
       |  SELECT qp.qid, qp.cell,
       |    list_transform(generate_series(1, 64),
       |      i -> (b.embedding[i]::DOUBLE - qp.ccent[i]::DOUBLE)::FLOAT) AS remb
       |  FROM qp JOIN curq b ON b.vec_id = qp.qid),
       |qrsub AS (
       |  SELECT qid, cell, g.s,
       |    list_transform(generate_series(1, $PqSubDim), i -> remb[$PqSubDim * g.s + i]) AS sub
       |  FROM qres, (SELECT unnest(generate_series(0, ${PqSubspaces - 1})) AS s) g),
       |qrsubq AS (SELECT qid, cell, s, sub, ${duckDot8("sub", "sub")} AS sq FROM qrsub),
       |lut AS (
       |  SELECT q.qid, q.cell, c.s, c.cid AS code,
       |    q.sq + c.csq - 2 * ${duckDot8("q.sub", "c.cent")} AS d
       |  FROM qrsubq q JOIN pcb c ON c.s = q.s),
       |scored AS (
       |  SELECT l.qid, c.vec_id, l.s, l.d
       |  FROM codesc c
       |  JOIN resc r ON r.vec_id = c.vec_id
       |  JOIN lut l ON l.cell = r.cell AND l.s = c.s AND l.code = c.code
       |    AND c.vec_id <> l.qid),
       |adist AS (
       |  SELECT qid, vec_id, list_sum(list(d ORDER BY s)) AS dist
       |  FROM scored GROUP BY 1, 2),
       |short AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY round(dist, 4), vec_id) AS rnk
       |    FROM adist) t WHERE rnk <= $RefineShortlist),
       |rerank AS (
       |  SELECT s.qid, s.vec_id,
       |    eq.sq + ev.sq - 2 * ${duckDot64("eq.embedding", "ev.embedding")} AS dist
       |  FROM short s
       |  JOIN curq eq ON eq.vec_id = s.qid
       |  JOIN curq ev ON ev.vec_id = s.vec_id)
       |SELECT qid, rnk, vec_id AS doc_id, round(dist, 4) AS edist FROM (
       |  SELECT qid, vec_id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY round(dist, 4), vec_id) AS rnk
       |  FROM rerank) t
       |WHERE rnk <= $PqTopK""".stripMargin) { (s, dir) =>
    ivfpqUpsertRetrieve(Tables.load(s, dir, "embeddings"))
  }

  /** SCHEDULED REBUILD + ATOMIC SERVE SWAP — the lifecycle verb e11/e12
    * defer ("quantizer drift is handled by scheduled full rebuilds"): after
    * enough churn the ORIGINAL coarse cells / codebooks stop describing the
    * corpus, so a maintenance job re-trains BOTH quantizer levels on the
    * CURRENT view, materializes the v2 index BESIDE the serving v1, and
    * swaps atomically — readers see a complete v1 or a complete v2 at every
    * instant, never a half-written index. The FS protocol is the lake
    * sink's staged-commit discipline applied to an index:
    *
    *   `<base>/_build_v<N>/`  — the build writes cents/cb/codes here; a
    *                            crash leaves garbage no reader ever visits;
    *   `_COMPLETE` marker     — written LAST inside staging, so a published
    *                            version directory is complete by
    *                            construction;
    *   rename → `<base>/v<N>` — one atomic publish;
    *   `<base>/CURRENT`       — the serve pointer, flipped by
    *                            write-tmp-then-atomic-rename. Readers
    *                            follow the pointer; the pointer only ever
    *                            names a published version.
    *
    * Crash windows (each exercised by IvfPqStoreSpec's kill matrix):
    * mid-staging → pointer still v1, staging reclaimed on retry; published
    * but unflipped → pointer still v1 (the retry adopts the complete v2 and
    * just flips); after the flip → v2 serves. A reader that finds no
    * pointer (first-ever publish crashed between rename and flip) falls
    * back to the highest COMPLETE version — the only window where the
    * pointer can lag what exists.
    */
  def writeIndexVersion(spark: SparkSession, base: String, idx: IvfPqIndex,
      ver: Int, faultInjector: String => Unit = _ => ()): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = Paths.get(base)
    Files.createDirectories(root)
    val staging = root.resolve(s"_build_v$ver")
    val published = root.resolve(s"v$ver")
    if (!(Files.exists(published) && Files.exists(published.resolve("_COMPLETE")))) {
      // a previous attempt's torn staging is garbage — rebuild it whole
      if (Files.exists(staging)) {
        val s = Files.walk(staging)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { Files.deleteIfExists(f); () })
        finally s.close()
      }
      idx.cents.write.parquet(staging.resolve("cents").toString)
      idx.cb.write.parquet(staging.resolve("cb").toString)
      idx.codes.write.partitionBy("cell").parquet(staging.resolve("codes").toString)
      faultInjector("staged")
      Files.write(staging.resolve("_COMPLETE"), Array.emptyByteArray)
      faultInjector("complete")
      Files.move(staging, published, StandardCopyOption.ATOMIC_MOVE)
    } // else: adopt the complete-but-unflipped survivor and just flip
    faultInjector("published")
    val tmp = root.resolve(s"_CURRENT.v$ver.tmp")
    Files.write(tmp, s"v$ver".getBytes("UTF-8"))
    Files.move(tmp, root.resolve("CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resolve and load the serving index: the CURRENT pointer wins (it only
    * ever names a complete version); with no pointer, the highest complete
    * version (the rename-before-flip crash window). The read-back `codes`
    * re-materialize the Hive `cell` partition values and are normalized to
    * the in-memory [[IvfPqIndex]] column shape, so [[ivfpqScan]] runs
    * identically over a loaded or a freshly built index.
    */
  def readCurrentIndex(spark: SparkSession, base: String): (Int, IvfPqIndex) = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(base)
    def complete(v: Int) = Files.exists(root.resolve(s"v$v").resolve("_COMPLETE"))
    val ptr = root.resolve("CURRENT")
    val ver =
      if (Files.exists(ptr)) {
        val named = new String(Files.readAllBytes(ptr), "UTF-8").trim.stripPrefix("v").toInt
        require(complete(named),
          s"serve pointer names v$named but $base/v$named is not complete — " +
            "the pointer is only ever flipped after publish; store corrupted")
        named
      } else {
        val listing = Files.list(root)
        val published = scala.collection.mutable.ArrayBuffer.empty[Int]
        try {
          val it = listing.iterator()
          while (it.hasNext) {
            val n = it.next().getFileName.toString
            if (n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
                complete(n.drop(1).toInt))
              published += n.drop(1).toInt
          }
        } finally listing.close()
        require(published.nonEmpty, s"no complete index version under $base")
        published.max
      }
    val dir = root.resolve(s"v$ver")
    // partition discovery types the cell directory values as INT; normalize
    // to the in-memory codes' LONG (same rule as [[ivfpqCompactCodes]]) so
    // every consumer of a loaded index can getLong("cell") safely
    val codes = spark.read.parquet(dir.resolve("codes").toString)
      .select(col("vec_id"), col("s"), col("code"), col("cell").cast("long").as("cell"))
    (ver, IvfPqIndex(
      spark.read.parquet(dir.resolve("cents").toString),
      spark.read.parquet(dir.resolve("cb").toString),
      codes))
  }

  /** e13's pipeline: the REAL maintenance flow end-to-end, on disk —
    * publish v1 (built on the original corpus), apply e12's churn, re-train
    * v2 on the current view, publish + flip, then serve e10's scan+refine
    * read path from the index READ BACK through the pointer (so the row
    * certifies persistence, partition re-discovery, and the swap, not just
    * the math). The k-bounded result is pinned and the RAM-backed store
    * reclaimed before returning (st36's discipline).
    */
  def ivfpqRebuildSwapRetrieve(spark: SparkSession, embs: DataFrame,
      nProbes: Int = IvfPqProbes, shortlist: Int = RefineShortlist): DataFrame = {
    val base = graft.streaming.ReplayHarness.scratchDir("graft_ivfpqstore_")
    try {
      writeIndexVersion(spark, base.toString, ivfpqBuild(embs), 1)
      val cur = churnedView(embs)
      writeIndexVersion(spark, base.toString, ivfpqBuild(cur), 2)
      val (ver, idx) = readCurrentIndex(spark, base.toString)
      require(ver == 2, s"pointer should serve the swapped v2, got v$ver")
      val q = cur.filter(col("vec_id") < 3)
      val short = ivfpqScan(q, idx, nProbes, shortlist).select(col("qid"), col("doc_id"))
      val out = exactRerank(cur, q, short)
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows), out.schema)
    } finally graft.streaming.ReplayHarness.cleanupScratch(base)
  }

  /** e13: scheduled index REBUILD + atomic serve swap — closes the IVF-PQ
    * lifecycle (build e9 → scan → refine e10 → grow e11 → churn e12 →
    * REBUILD). The oracle is the strongest possible statement of "the swap
    * served the retrained index": the ENTIRE e9/e10 chain — coarse k-means
    * seeds, Lloyd round, residual frame, PQ codebook train, encode, probes,
    * LUT, ADC, shortlist, exact refine — instantiated over the post-churn
    * corpus `cur` ([[duckIvfPqCtesOver]]). Serving stale v1 quantizers, a
    * half-swapped index, dropped churn, or a pointer that never flipped
    * each produce different cells/codes and break the hash.
    */
  val e13 = Q(
    "e13_ivfpq_rebuild",
    s"""WITH cur AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id % 7 = 3
       |      THEN list_transform(generate_series(1, 64), i -> embedding[1 + (i % 64)])
       |      ELSE embedding END AS embedding
       |  FROM embeddings WHERE vec_id % 11 <> 5),
       |${duckIvfPqCtesOver("cur")},
       |short AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY round(dist, 4), vec_id) AS rnk
       |    FROM adist) t WHERE rnk <= $RefineShortlist),
       |rerank AS (
       |  SELECT s.qid, s.vec_id,
       |    eq.sq + ev.sq - 2 * ${duckDot64("eq.embedding", "ev.embedding")} AS dist
       |  FROM short s
       |  JOIN e eq ON eq.vec_id = s.qid
       |  JOIN e ev ON ev.vec_id = s.vec_id)
       |SELECT qid, rnk, vec_id AS doc_id, round(dist, 4) AS edist FROM (
       |  SELECT qid, vec_id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY round(dist, 4), vec_id) AS rnk
       |  FROM rerank) t
       |WHERE rnk <= $PqTopK""".stripMargin) { (s, dir) =>
    ivfpqRebuildSwapRetrieve(s, Tables.load(s, dir, "embeddings"))
  }

  /** e15's oracle: e9's certified ADC chain with the predicate applied
    * BEFORE the per-query ranking — exactly the pre-filter semantics
    * (masking code rows changes which candidates are scored, never their
    * scores, so filtering the `adist` relation is equivalent and keeps the
    * oracle on the shared CTE chain). `label < 4` keeps ~40% of the corpus
    * — selective enough that post-filter at equal budget visibly loses
    * rows, which is what the companion property test prices.
    */
  val e15 = Q(
    "e15_ivfpq_filtered_retrieve",
    s"""WITH $duckIvfPqCtes
       |SELECT qid, rnk, vec_id AS doc_id, round(dist, 4) AS adist FROM (
       |  SELECT a.qid, a.vec_id, a.dist,
       |    row_number() OVER (PARTITION BY a.qid
       |      ORDER BY round(a.dist, 4), a.vec_id) AS rnk
       |  FROM adist a JOIN embeddings v ON v.vec_id = a.vec_id
       |  WHERE v.label < 4) t
       |WHERE rnk <= $PqTopK""".stripMargin) { (s, dir) =>
    val embs = Tables.load(s, dir, "embeddings")
    ivfpqFilteredScan(embs.filter(col("vec_id") < 3), ivfpqBuild(embs),
      embs.filter(col("label") < 4))
  }

  /** e16: PREDICATE-DENORMALIZED filtered ANN — e15's own stated 100 TB
    * fallback, implemented: when the allowed-id set is too large to
    * broadcast (or to materialize at all), the predicate COLUMN is
    * denormalized into the codes relation at encode time ([[
    * ivfpqDenormBuild]] — one small column riding each stored code row)
    * and the mask becomes a pushed-down data filter on the stored codes
    * SCAN: zero mask join, zero broadcast, zero extra shuffle at query
    * time, cost O(predicate evaluation per probed row) with parquet
    * row-group skipping doing the heavy lifting. The trade: the predicate
    * must be expressible over encode-time columns (label drift needs a
    * re-encode or an e12-style upsert), which is exactly why both shapes
    * exist. Results are contractually IDENTICAL to e15's semi-join mask —
    * same oracle SQL, and the companion plan test pins pushed label
    * filter + no semi join.
    */
  def ivfpqDenormBuild(embs: DataFrame, metaCols: Seq[String]): IvfPqIndex = {
    val idx = ivfpqBuild(embs)
    idx.copy(codes = idx.codes.join(embs.select("vec_id", metaCols: _*), Seq("vec_id")))
  }

  val e16 = Q(
    "e16_ivfpq_denorm_filtered",
    s"""WITH $duckIvfPqCtes
       |SELECT qid, rnk, vec_id AS doc_id, round(dist, 4) AS adist FROM (
       |  SELECT a.qid, a.vec_id, a.dist,
       |    row_number() OVER (PARTITION BY a.qid
       |      ORDER BY round(a.dist, 4), a.vec_id) AS rnk
       |  FROM adist a JOIN embeddings v ON v.vec_id = a.vec_id
       |  WHERE v.label < 4) t
       |WHERE rnk <= $PqTopK""".stripMargin) { (s, dir) =>
    val embs = Tables.load(s, dir, "embeddings")
    val idx = ivfpqDenormBuild(embs, Seq("label"))
    // the stored shape: label lives IN the codes parquet (cell-partitioned
    // like the index store), so the mask reaches the scan as PushedFilters
    val base = graft.streaming.ReplayHarness.scratchDir("graft_denorm_")
    val codesDir = base.resolve("codes").toString
    idx.codes.write.partitionBy("cell").parquet(codesDir)
    val stored = s.read.parquet(codesDir)
      .select(col("vec_id"), col("s"), col("code"),
        col("cell").cast("long").as("cell"), col("label"))
    val res = ivfpqScan(embs.filter(col("vec_id") < 3),
      IvfPqIndex(idx.cents, idx.cb, stored.filter(col("label") < 4)))
    // pin the k-row result and reclaim the scratch store (f11's discipline)
    val rows = res.collect().toIndexedSeq
    graft.streaming.ReplayHarness.cleanupScratch(base)
    s.createDataFrame(s.sparkContext.parallelize(rows), res.schema)
  }

  val all: Seq[Q] = Seq(s1, s2, s3, s4, e1, e2, e3, e4, e5, e6, e7, e8, e9, e10, e11,
    e12, e13, e14, e15, e16)
}
