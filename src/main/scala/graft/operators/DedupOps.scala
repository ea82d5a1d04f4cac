package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}

/** Deduplication operators over `documents` (builder brief: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Design for 100 TB:
  *   - exact + normalized dedup are hash-groupBys — partial aggregation
  *     makes the shuffle carry one row per distinct hash;
  *   - MinHash signatures are computed per-row with higher-order array
  *     expressions (shuffle-free map stage), then LSH banding turns the
  *     quadratic all-pairs problem into a groupBy on (band, band_key) — only
  *     docs sharing a band bucket are ever paired (SURVEY §7.4: salt bands
  *     if a bucket grows pathological; cf. PAPERS.md ICDE 2020);
  *   - the pair-verify stage (n-gram Jaccard) joins inside buckets only.
  *
  * The word hash is the first 8 hex chars of md5 — portable, so the DuckDB
  * oracle replicates signatures bit-for-bit (all arithmetic is int64).
  */
object DedupOps {

  /** 16 fixed (a, b) linear-permutation constants for MinHash; primes, all
    * small enough that a * h < 2^63 for h < 2^32. Single source of truth in
    * [[graft.functions.MinHashKernel]] — shared with the codegen'd
    * `minhash16` expression.
    */
  private val A: Seq[Long] = graft.functions.MinHashKernel.A.toSeq
  private val B: Seq[Long] = graft.functions.MinHashKernel.B.toSeq
  private val P: Long = graft.functions.MinHashKernel.P

  private def arr(xs: Seq[Long]) = xs.mkString("array(", ", ", ")")
  private def lst(xs: Seq[Long]) = xs.mkString("[", ", ", "]")

  /** Spark SQL: distinct word hashes of the text column. Materialized as its
    * own projection so md5 runs ONCE per word, not once per (word x hash-fn)
    * — 16x less hashing for MinHash, 32x for SimHash. This lambda form is
    * the executable SPEC (mirroring the oracle text); query paths ship the
    * fused codegen `word_hashes(text)` expression, pinned equal by
    * DedupPropertySpec.
    */
  val wordHashesSpark: String =
    """transform(array_distinct(split(text, ' ')),
      |  w -> CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT))""".stripMargin

  /** Spark SQL expression: 16-element MinHash signature over a precomputed
    * `whashes` array column — the higher-order-function formulation. This is
    * the executable SPEC (it mirrors the DuckDB oracle text); the shipped
    * query path uses the codegen'd one-pass `minhash16(whashes)` expression
    * instead (16 interpreted array walks -> 1 fused walk;
    * DedupPropertySpec pins expression == spec).
    */
  val sigExprSpark: String =
    s"""transform(sequence(0, 15), j ->
       |  array_min(transform(whashes,
       |    h -> (element_at(${arr(A)}, j + 1) * h
       |          + element_at(${arr(B)}, j + 1)) % $P)))""".stripMargin

  /** Same signature in DuckDB SQL. */
  val sigExprDuck: String =
    s"""list_transform(generate_series(0, 15), j ->
       |  list_min(list_transform(list_distinct(string_split(text, ' ')),
       |    w -> (${lst(A)}[j + 1]
       |          * (('0x' || substring(md5(w), 1, 8))::BIGINT)
       |          + ${lst(B)}[j + 1]) % $P)))""".stripMargin

  /** d1: exact + normalized dedup census in one pass: total docs, distinct
    * raw sha256 hashes, distinct order-insensitive token-set fingerprints.
    */
  val d1 = Q(
    "d1_exact_dedup_census",
    """SELECT count(*) AS n_docs,
      |  count(DISTINCT sha256(text)) AS n_unique_raw,
      |  count(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')))
      |    AS n_unique_norm
      |FROM documents""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(sha2(col("text"), 256)).as("n_unique_raw"),
      countDistinct(md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))))
        .as("n_unique_norm"))
  }

  /** d2: normalized-dedup group-size histogram (how many docs share a
    * token-set fingerprint). The canonical-keeper rule would be
    * min(doc_id) per group; the histogram is the census view of it.
    */
  val d2 = Q(
    "d2_normalized_dedup_groups",
    """SELECT group_size, count(*) AS n_groups FROM (
      |  SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
      |         count(*) AS group_size
      |  FROM documents GROUP BY 1) t
      |GROUP BY group_size""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .groupBy(md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))).as("fp"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
  }

  /** Banding geometry: 2 bands x 8 rows. Tuned for the J >~ 0.9 near-dup
    * regime (P(candidate) = 1-(1-J^8)^2); measured on this corpus 4x4 bands
    * admit ~13M candidate pairs at sf0.1 (vocab overlap is universal) vs
    * ~3M for 2x8 — banding selectivity IS the scale knob for LSH dedup.
    */
  private val duckBands =
    """bands AS (
      |  SELECT doc_id, j AS band_idx,
      |    md5(array_to_string(sig[8*j + 1 : 8*j + 8], '-')) AS band_key
      |  FROM sig, (SELECT unnest(generate_series(0, 1)) AS j) t)""".stripMargin

  private val sparkBandKey =
    "md5(array_join(transform(slice(sig, 8*band_idx + 1, 8), x -> CAST(x AS STRING)), '-')) AS band_key"

  /** documents -> (doc_id, sig) with the word-hash array materialized once. */
  def withSignature(s: SparkSession, dir: String) =
    Tables.load(s, dir, "documents")
      .selectExpr("doc_id", "word_hashes(text) AS whashes")
      .selectExpr("doc_id", "minhash16(whashes) AS sig")

  private def sparkBands(s: SparkSession, dir: String) =
    withSignature(s, dir)
      .select(col("doc_id"), col("sig"), explode(expr("sequence(0, 1)")).as("band_idx"))
      .selectExpr("doc_id", "band_idx", sparkBandKey)

  /** d3: MinHash-LSH banding census: per band, bucket count, docs in
    * colliding buckets, and 2x candidate-pair count (c*(c-1) summed — kept
    * integral to avoid division-dialect drift).
    */
  val d3 = Q(
    "d3_minhash_lsh_bands",
    s"""WITH sig AS (SELECT doc_id, $sigExprDuck AS sig FROM documents),
       |$duckBands,
       |buckets AS (
       |  SELECT band_idx, band_key, count(*) AS c FROM bands GROUP BY 1, 2)
       |SELECT band_idx, count(*) AS n_buckets,
       |  sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS n_colliding_docs,
       |  sum(c * (c - 1))::BIGINT AS n_pairs_x2
       |FROM buckets GROUP BY band_idx""".stripMargin) { (s, dir) =>
    sparkBands(s, dir).groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band_idx"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_colliding_docs"),
        sum(col("c") * (col("c") - 1)).as("n_pairs_x2"))
  }

  /** Band-bucket cap for d4. A bucket whose membership exceeds this carries
    * no discriminative signal (the band-key collides with a large fraction
    * of the corpus — here two degenerate buckets hold 1,779 and 1,571 of
    * 5,000 docs and 2.8M of the 3.1M candidate pairs at sf0.1). Pairing
    * inside such a bucket is quadratic spam concentrated on ONE shuffle key
    * on BOTH sides of the self-join — the one skew AQE cannot split. We drop
    * oversize buckets and REPORT the dropped pair-slot count as a
    * `sim_bucket = -1` accounting row (SURVEY §7.4; PAPERS.md ICDE 2020).
    * NOTE the -1 row is an UPPER-BOUND tally of pair-slots summed per
    * oversize (band, key) bucket: a pair sharing several oversize bands is
    * counted once per band, and a pair also co-located in a kept band is
    * still found — so it is a conservative audit figure, not a count of
    * distinct lost pairs.
    * At 100 TB the cap is what bounds per-task work: kept buckets generate
    * at most CAP^2/2 pairs each, spread across buckets.
    */
  val BucketCap = 256L

  /** d4: LSH candidates verified with exact token-set Jaccard, reported as a
    * similarity histogram (floor(jaccard * 20) buckets), plus a -1 bucket
    * counting pair-slots dropped by the [[BucketCap]]. Pairing happens only
    * inside capped LSH buckets — the 100 TB-safe shape.
    */
  val d4 = Q(
    "d4_lsh_jaccard_verify",
    s"""WITH sig AS (SELECT doc_id, $sigExprDuck AS sig FROM documents),
       |$duckBands,
       |bsz AS (SELECT band_idx, band_key, count(*) AS c FROM bands GROUP BY 1, 2),
       |kept AS (
       |  SELECT b.doc_id, b.band_idx, b.band_key FROM bands b
       |  JOIN bsz ON bsz.band_idx = b.band_idx AND bsz.band_key = b.band_key
       |  WHERE bsz.c <= $BucketCap),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM kept x JOIN kept y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |sets AS (SELECT doc_id,
       |                list_distinct(list_transform(list_distinct(string_split(text, ' ')),
       |                  w -> ('0x' || substring(md5(w), 1, 8))::BIGINT)) AS ws
       |         FROM documents),
       |jac AS (
       |  SELECT a, b,
       |    len(list_intersect(sa.ws, sb.ws))::DOUBLE
       |      / (len(sa.ws) + len(sb.ws) - len(list_intersect(sa.ws, sb.ws))) AS j
       |  FROM cand JOIN sets sa ON sa.doc_id = a JOIN sets sb ON sb.doc_id = b),
       |hist AS (
       |  SELECT floor(j * 20)::BIGINT AS sim_bucket, count(*) AS n_pairs
       |  FROM jac GROUP BY 1),
       |dropped AS (
       |  SELECT (-1)::BIGINT AS sim_bucket, (sum(c * (c - 1) // 2))::BIGINT AS n_pairs
       |  FROM bsz WHERE c > $BucketCap)
       |SELECT * FROM hist
       |UNION ALL SELECT * FROM dropped WHERE n_pairs IS NOT NULL""".stripMargin) { (s, dir) =>
    val bands = sparkBands(s, dir)
    // Bucket census first (plain count, partial-agg safe even on the hot
    // keys), then an ANTI join against the oversize list. Unlike the verify
    // relation below, this hint is scale-safe: oversize rows are (band_idx,
    // band_key) pairs whose bucket EXCEEDS the cap, so cardinality is
    // bounded by N*bands/CAP in theory and by the handful of degenerate
    // band keys in practice — broadcasting keeps the cap filter map-side.
    val sizes = bands.groupBy(col("band_idx"), col("band_key")).agg(count(lit(1)).as("c"))
    val oversize = sizes.filter(col("c") > BucketCap)
    val kept = bands.join(broadcast(oversize.select("band_idx", "band_key")),
      Seq("band_idx", "band_key"), "left_anti")
    // Self-join via aliases over the SAME plan object: both join children
    // canonicalize identically, so the (band_idx, band_key) shuffle is
    // planned once and the second side becomes a ReusedExchange — the
    // signature subtree (scan -> word_hashes -> minhash16 -> bands) runs
    // once for the pairing instead of twice (guarded by PlanShapeSpec).
    val cand = kept.as("x").join(kept.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // Jaccard over the hashed word sets (the standard hashing trick), sorted
    // ONCE per document so the per-pair intersect is a two-pointer merge
    // (custom codegen'd sorted_intersect_count) instead of array_intersect's
    // per-pair hash build. |A u B| = |A| + |B| - |A n B| avoids union arrays.
    // The sets relation is one row per DOCUMENT — corpus cardinality — so it
    // must NOT be force-broadcast (~2.5 MB at sf0.1, an executor OOM at the
    // 100 TB design point). Instead: a plain equi-join on the doc id, which
    // is high-cardinality and skew-free (BucketCap bounds each doc's pair
    // fan-out at <= 2*(CAP-1)); AQE converts it to a broadcast join at
    // runtime whenever the relation measures small, so the sf0.1 plan is
    // still the round-2 fast path. Round 1's actual mistake was shipping the
    // word-hash arrays through the BAND-KEY shuffle (494 s): here the arrays
    // move at most once, hashed by doc id, never through the band topology
    // (guarded by PlanShapeSpec).
    val sets = Tables.load(s, dir, "documents")
      .selectExpr("doc_id", "array_sort(array_distinct(word_hashes(text))) AS ws")
      .withColumn("sz", size(col("ws")))
    val hist = cand
      .join(sets.select(col("doc_id").as("a"), col("ws").as("wsa"), col("sz").as("sza")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("ws").as("wsb"), col("sz").as("szb")), Seq("b"))
      .withColumn("isz", expr("sorted_intersect_count(wsa, wsb)").cast("int"))
      .select(
        floor(col("isz").cast("double")
          / (col("sza") + col("szb") - col("isz")) * 20).as("sim_bucket"))
      .groupBy(col("sim_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
    val droppedRow = oversize
      .agg(sum(expr(s"c * (c - 1) DIV 2")).as("n_pairs"))
      .select(lit(-1L).as("sim_bucket"), col("n_pairs"))
      .filter(col("n_pairs").isNotNull)
    hist.union(droppedRow)
  }

  /** d5: 32-bit SimHash per document (sign of per-bit vote over word
    * hashes). Pure per-row expression work — shuffle-free. The hash itself
    * is the custom codegen'd [[graft.functions.SimHash32]] expression: ONE
    * fused pass with 32 counters. The equivalent higher-order-function
    * formulation (`transform(sequence(31,0,-1), j -> aggregate(whashes,...))`)
    * is CodegenFallback and made 32 interpreted passes per row — 17 ms/row
    * in the round-1 bench. `DedupPropertySpec` pins expression == lambda.
    */
  val d5 = Q(
    "d5_simhash",
    """SELECT doc_id,
      |  array_to_string(list_transform(generate_series(31, 0, -1), j ->
      |    CASE WHEN list_sum(list_transform(list_distinct(string_split(text, ' ')),
      |        w -> CASE WHEN ((('0x' || substring(md5(w), 1, 8))::BIGINT >> j) % 2) = 1
      |             THEN 1 ELSE -1 END)) > 0
      |    THEN '1' ELSE '0' END), '') AS simhash
      |FROM documents""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .selectExpr("doc_id", "word_hashes(text) AS whashes")
      .selectExpr("doc_id", "simhash32(whashes) AS simhash")
  }

  /** DuckDB: the 32-bit SimHash as an INTEGER (bit j set iff the d5 vote sum
    * is positive) — integer form so Hamming distance is bit_count(xor(...)).
    */
  private val simIntDuck =
    """list_sum(list_transform(generate_series(0, 31), j ->
      |    CASE WHEN list_sum(list_transform(list_distinct(string_split(text, ' ')),
      |        w -> CASE WHEN (((('0x' || substring(md5(w), 1, 8))::BIGINT) >> j) % 2) = 1
      |             THEN 1 ELSE -1 END)) > 0
      |    THEN (1::BIGINT << j) ELSE 0 END))::BIGINT""".stripMargin

  /** DuckDB CTE chain ending in `cand` — the capped SimHash ham-band
    * candidate pairs. Shared verbatim by d7's histogram oracle and the
    * [[ClusterOps]] c1/c2 connected-components oracles so all three check
    * the IDENTICAL pair generation.
    */
  val duckSimhashCandCtes: String =
    s"""sims AS (SELECT doc_id, $simIntDuck AS sim FROM documents),
       |bands AS (
       |  SELECT doc_id, sim, j AS band_idx, (sim >> (8*j)) & 255 AS band_key
       |  FROM sims, (SELECT unnest(generate_series(0, 3)) AS j) t),
       |bsz AS (SELECT band_idx, band_key, count(*) AS c FROM bands GROUP BY 1, 2),
       |kept AS (
       |  SELECT b.* FROM bands b
       |  JOIN bsz ON bsz.band_idx = b.band_idx AND bsz.band_key = b.band_key
       |  WHERE bsz.c <= $BucketCap),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, x.sim AS sa, y.doc_id AS b, y.sim AS sb
       |  FROM kept x JOIN kept y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id)""".stripMargin

  /** Spark side of [[duckSimhashCandCtes]]: (candidate pairs with both
    * signatures, oversize-bucket relation for drop accounting). The pairing
    * self-join aliases the SAME plan object so the band shuffle plans once
    * and the second side becomes a ReusedExchange (guarded by PlanShapeSpec).
    */
  private[operators] def simhashStages(
      s: SparkSession, dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val sims = Tables.load(s, dir, "documents")
      .selectExpr("doc_id", "CAST(conv(simhash32(word_hashes(text)), 2, 10) AS BIGINT) AS sim")
    val bands = sims
      .select(col("doc_id"), col("sim"), explode(expr("sequence(0, 3)")).as("band_idx"))
      .selectExpr("doc_id", "sim", "band_idx",
        "CAST(shiftright(sim, 8 * band_idx) & 255 AS BIGINT) AS band_key")
    val sizes = bands.groupBy(col("band_idx"), col("band_key")).agg(count(lit(1)).as("c"))
    val oversize = sizes.filter(col("c") > BucketCap)
    val kept = bands.join(broadcast(oversize.select("band_idx", "band_key")),
      Seq("band_idx", "band_key"), "left_anti")
    val cand = kept.as("x").join(kept.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("x.sim").as("sa"),
        col("y.doc_id").as("b"), col("y.sim").as("sb"))
      .distinct()
    (cand, oversize)
  }

  /** The ham <= 3 near-dup pair list — d7's candidates after the integer
    * verify, as a reusable relation. [[ClusterOps]] closes these into
    * connected components.
    */
  def simhashNearDupPairs(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    simhashStages(s, dir)._1
      .filter(expr("bit_count(sa ^ sb) <= 3"))
      .select(col("a"), col("b"))

  /** d7: SimHash near-dup census — pairs within Hamming distance 3, found by
    * 8-bit band LSH over the 32-bit signature. Pigeonhole guarantee: any
    * pair with Hamming <= 3 differs in at most 3 of the 4 bytes, so at least
    * one byte matches exactly -> candidate generation on (band_idx, byte) is
    * COMPLETE for the <=3 regime, never all-pairs. Completes the SimHash
    * family: d5 computes signatures, d7 pairs on them.
    *
    * Same skew defense as d4: this corpus's signatures cluster (50% of all
    * pairs share a byte at sf0.01), so bands whose bucket exceeds
    * [[BucketCap]] are dropped and reported as a ham = -1 pair-slot row —
    * a degenerate byte value carries no signal, exactly like a degenerate
    * MinHash band. Verify is integer-only (bit_count of xor), and the
    * pairing self-join reuses one exchange via aliases over the same plan.
    */
  val d7 = Q(
    "d7_simhash_hamming_neardup",
    s"""WITH $duckSimhashCandCtes,
       |hist AS (
       |  SELECT bit_count(xor(sa, sb))::BIGINT AS ham, count(*) AS n_pairs
       |  FROM cand WHERE bit_count(xor(sa, sb)) <= 3 GROUP BY 1),
       |dropped AS (
       |  SELECT (-1)::BIGINT AS ham, (sum(c * (c - 1) // 2))::BIGINT AS n_pairs
       |  FROM bsz WHERE c > $BucketCap)
       |SELECT * FROM hist
       |UNION ALL SELECT * FROM dropped WHERE n_pairs IS NOT NULL""".stripMargin) { (s, dir) =>
    val (cand, oversize) = simhashStages(s, dir)
    val hist = cand
      .withColumn("ham", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .filter(col("ham") <= 3)
      .groupBy(col("ham"))
      .agg(count(lit(1)).as("n_pairs"))
    val droppedRow = oversize
      .agg(sum(expr("c * (c - 1) DIV 2")).as("n_pairs"))
      .select(lit(-1L).as("ham"), col("n_pairs"))
      .filter(col("n_pairs").isNotNull)
    hist.union(droppedRow)
  }

  /** d6: 3-word shingle Jaccard between consecutive documents — the true
    * n-gram (n>1) variant of the dedup family. Shingles keep word ORDER
    * information that the unigram sets in d1-d4 discard. The adjacent-pair
    * framing keeps the output linear in corpus size; the LSH machinery of
    * d3/d4 is how arbitrary pairs would be found at scale.
    */
  val d6 = Q(
    "d6_ngram_shingle_jaccard",
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
      |      i -> array_to_string(string_split(text, ' ')[i : i + 2], ' '))) AS sg
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |    len(list_intersect(a.sg, b.sg))::DOUBLE
      |      / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j
      |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1)
      |SELECT a, b, floor(j * 20)::BIGINT AS sim_bucket FROM pairs""".stripMargin) { (s, dir) =>
    // shingles3 is the fused codegen form of
    //   array_distinct(transform(sequence(1, size(ws)-2), i -> concat_ws(' ', slice(ws, i, 3))))
    // — one tokenize + one pass instead of an interpreted lambda that
    // re-slices per shingle (DedupPropertySpec pins expression == spec).
    // Materializing sg in its own projection before the join also keeps the
    // planner from ever deferring shingle work above the join (per-pair).
    val sh = Tables.load(s, dir, "documents")
      .selectExpr("doc_id", "shingles3(text) AS sg")
    val a = sh.select(col("doc_id").as("a"), (col("doc_id") + 1).as("a1"), col("sg").as("sga"))
    val b = sh.select(col("doc_id").as("b"), col("sg").as("sgb"))
    a.join(b, col("b") === col("a1")).drop("a1")
      .withColumn("isz", size(array_intersect(col("sga"), col("sgb"))))
      .select(col("a"), col("b"),
        floor(col("isz").cast("double")
          / (size(col("sga")) + size(col("sgb")) - col("isz")) * 20).as("sim_bucket"))
  }

  /** d8: the dedup DROP LIST — for every document whose normalized
    * fingerprint collides with an earlier one, the canonical keeper it
    * duplicates (keeper = min doc_id per fingerprint group, the d2 census
    * turned into the actionable output a curation pipeline consumes).
    * One window-min over the fingerprint shuffle: same single-shuffle cost
    * as the d2 histogram, and the fingerprint groups are bounded (dup
    * cluster size), so no skew concern at 100 TB.
    */
  val d8 = Q(
    "d8_dedup_keepers",
    """SELECT doc_id, keeper FROM (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM (
      |    SELECT doc_id,
      |      md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      |    FROM documents) f) g
      |WHERE doc_id <> keeper""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    Tables.load(s, dir, "documents")
      .withColumn("fp",
        md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))))
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") =!= col("keeper"))
      .select("doc_id", "keeper")
  }

  /** Shingle-df cap for d9: a 5-gram appearing in more train documents than
    * this is boilerplate, not contamination signal — and, operationally, a
    * hot shuffle key. One knob serves both purposes, exactly like d4's
    * BucketCap.
    */
  val ContamDfCap = 16L

  /** d9: train/test DECONTAMINATION — the dedup family applied across the
    * q38-style hash split: a test document is contaminated if it shares any
    * discriminative 5-gram with any training document (the exact-overlap
    * decontamination step an LLM data pipeline runs before evaluation;
    * 5-gram + df cap is deliberately stricter than the 3-grams of d6/t9
    * because short shingles saturate — at 3-grams every test doc here
    * matches something).
    *
    * Scale shape: an inverted-index LEFT SEMI join. Shingles are hashed to
    * int64 (portable md5 prefix, as everywhere in this engine) so the
    * shuffle moves 8-byte keys, not strings; the train side reduces to one
    * row per distinct kept shingle (partial-agg friendly); the df cap
    * bounds the hottest key's fan-out AND removes boilerplate n-grams. The
    * census output (test/contaminated/clean) is the pipeline gate metric.
    */
  val d9 = Q(
    "d9_decontamination",
    s"""WITH d AS (SELECT doc_id, text,
       |  ${graft.core.PortableHash.duck("doc_id::VARCHAR")} % 10 AS b FROM documents),
       |tr AS (SELECT doc_id,
       |  unnest(list_distinct(list_transform(
       |    list_transform(generate_series(1, len(string_split(text, ' ')) - 4),
       |      i -> array_to_string(string_split(text, ' ')[i : i + 4], ' ')),
       |    g -> ${graft.core.PortableHash.duck("g")}))) AS sg
       |  FROM d WHERE b < 9),
       |keep AS (SELECT sg FROM tr GROUP BY sg
       |         HAVING count(DISTINCT doc_id) <= $ContamDfCap),
       |te AS (SELECT doc_id,
       |  unnest(list_distinct(list_transform(
       |    list_transform(generate_series(1, len(string_split(text, ' ')) - 4),
       |      i -> array_to_string(string_split(text, ' ')[i : i + 4], ' ')),
       |    g -> ${graft.core.PortableHash.duck("g")}))) AS sg
       |  FROM d WHERE b = 9),
       |cont AS (SELECT DISTINCT doc_id FROM te WHERE sg IN (SELECT sg FROM keep))
       |SELECT count(*) AS n_test,
       |  coalesce(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 END), 0)::BIGINT AS n_contaminated,
       |  (count(*) - coalesce(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 END), 0))::BIGINT AS n_clean
       |FROM (SELECT doc_id FROM d WHERE b = 9) t
       |LEFT JOIN cont c ON c.doc_id = t.doc_id""".stripMargin) { (s, dir) =>
    decontaminationCensus(Tables.load(s, dir, "documents"), ContamDfCap)
  }

  /** d9's pipeline over any `documents`-shaped relation with an explicit df
    * cap — the cap must SCALE with the corpus (boilerplate frequency is
    * relative), which is what the d9 scale rung (BENCH_NOTES.md) exercised.
    */
  def decontaminationCensus(docs: org.apache.spark.sql.DataFrame, cap: Long): org.apache.spark.sql.DataFrame = {
    // hashed distinct 5-gram shingles of the token array `t` (empty below 5
    // tokens — Spark's sequence() would count DOWN through an empty range)
    val sgExpr =
      s"""IF(size(t) >= 5,
         |  array_distinct(transform(
         |    transform(sequence(1, size(t) - 4), i -> concat_ws(' ', slice(t, i, 5))),
         |    g -> ${graft.core.PortableHash.spark("g")})),
         |  CAST(array() AS ARRAY<BIGINT>))""".stripMargin
    val d = docs
      .withColumn("b",
        expr(graft.core.PortableHash.spark("CAST(doc_id AS STRING)") + " % 10"))
      .withColumn("t", split(col("text"), " "))
    val tr = d.filter(col("b") < 9).select(col("doc_id"), explode(expr(sgExpr)).as("sg"))
    val keep = tr.groupBy(col("sg"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= cap)
      .select("sg")
    val te = d.filter(col("b") === 9).select(col("doc_id"), explode(expr(sgExpr)).as("sg"))
    val cont = te.join(keep, Seq("sg"), "left_semi").select("doc_id").distinct()
    // single-pass census: flag test docs by one left join against the
    // contaminated set and aggregate once — a metric-rows union here would
    // re-run the whole shingle-index subtree per metric (the first cut did:
    // 6 document scans, 2 df-index builds in the plan)
    val test = d.filter(col("b") === 9).select("doc_id")
    test.join(cont.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_test"),
        coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"),
        (count(lit(1)) - coalesce(sum(col("hit")), lit(0L))).as("n_clean"))
  }

  /** d10: incremental dedup — the ingestion-time form of d2/d8: a new
    * batch (the b = 9 hash slice) is deduplicated AGAINST the existing
    * corpus (b < 9) by normalized token-set fingerprint, reporting batch
    * size, already-in-corpus duplicates, and distinct novel fingerprints.
    * This is the continuous-pipeline operation (every arriving shard runs
    * it); full-corpus dedup (d1/d2) is the batch backfill.
    *
    * Scale shape: fingerprints are a shuffle-free map stage; the
    * corpus-membership probe is a left join on the high-cardinality fp key
    * (at 100 TB the corpus side is a bucketed/indexed fingerprint store;
    * the join key and plan shape are unchanged). Nothing is broadcast by
    * hint — the corpus fingerprint relation grows with the corpus.
    */
  val d10 = Q(
    "d10_incremental_dedup",
    s"""WITH d AS (SELECT doc_id,
       |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
       |  ${graft.core.PortableHash.duck("doc_id::VARCHAR")} % 10 AS b FROM documents),
       |corpus AS (SELECT DISTINCT fp FROM d WHERE b < 9),
       |batch AS (SELECT doc_id, fp FROM d WHERE b = 9)
       |SELECT count(*)::BIGINT AS n_batch,
       |  sum(CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup_corpus,
       |  count(DISTINCT CASE WHEN c.fp IS NULL THEN batch.fp END)::BIGINT AS n_novel_fps
       |FROM batch LEFT JOIN corpus c ON c.fp = batch.fp""".stripMargin) { (s, dir) =>
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))).as("fp"))
      .withColumn("b",
        expr(graft.core.PortableHash.spark("CAST(doc_id AS STRING)") + " % 10"))
    val corpus = d.filter(col("b") < 9).select("fp").distinct()
      .withColumn("in_corpus", lit(1))
    d.filter(col("b") === 9).select("doc_id", "fp")
      .join(corpus, Seq("fp"), "left")
      .agg(
        count(lit(1)).as("n_batch"),
        sum(when(col("in_corpus").isNotNull, 1L).otherwise(0L)).as("n_dup_corpus"),
        countDistinct(when(col("in_corpus").isNull, col("fp"))).as("n_novel_fps"))
  }

  /** d11: MinHash sketch-accuracy audit — for every capped LSH candidate
    * pair, compare the SKETCH similarity estimate (fraction of agreeing
    * minhash positions) against the exact token-set Jaccard it estimates,
    * histogrammed by absolute error decile. This is the d4 companion a
    * production pipeline keeps running: it states, from live data, how
    * much the 16-position sketch can be trusted before committing to
    * sketch-only dedup thresholds (the e2/audit-row discipline applied to
    * MinHash). Same capped candidate generation and doc_id-keyed set join
    * as d4 — identical scale shape; the estimate itself is 16 integer
    * comparisons per pair.
    */
  val d11 = Q(
    "d11_minhash_accuracy",
    s"""WITH sig AS (SELECT doc_id, $sigExprDuck AS sig FROM documents),
       |$duckBands,
       |bsz AS (SELECT band_idx, band_key, count(*) AS c FROM bands GROUP BY 1, 2),
       |kept AS (
       |  SELECT b.doc_id, b.band_idx, b.band_key FROM bands b
       |  JOIN bsz ON bsz.band_idx = b.band_idx AND bsz.band_key = b.band_key
       |  WHERE bsz.c <= $BucketCap),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM kept x JOIN kept y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |sets AS (SELECT doc_id,
       |                list_distinct(list_transform(list_distinct(string_split(text, ' ')),
       |                  w -> ('0x' || substring(md5(w), 1, 8))::BIGINT)) AS ws
       |         FROM documents),
       |scored AS (
       |  SELECT
       |    len(list_filter(generate_series(1, 16), i -> ga.sig[i] = gb.sig[i])) AS matches,
       |    len(list_intersect(sa.ws, sb.ws))::DOUBLE
       |      / (len(sa.ws) + len(sb.ws) - len(list_intersect(sa.ws, sb.ws))) AS j
       |  FROM cand
       |  JOIN sig ga ON ga.doc_id = a JOIN sig gb ON gb.doc_id = b
       |  JOIN sets sa ON sa.doc_id = a JOIN sets sb ON sb.doc_id = b)
       |SELECT floor(abs(matches / 16.0 - j) * 10)::BIGINT AS err_decile,
       |  count(*) AS n_pairs
       |FROM scored GROUP BY 1""".stripMargin) { (s, dir) =>
    val bands = sparkBands(s, dir)
    val sizes = bands.groupBy(col("band_idx"), col("band_key")).agg(count(lit(1)).as("c"))
    val oversize = sizes.filter(col("c") > BucketCap)
    val kept = bands.join(broadcast(oversize.select("band_idx", "band_key")),
      Seq("band_idx", "band_key"), "left_anti")
    val cand = kept.as("x").join(kept.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val sig = withSignature(s, dir)
    val sets = Tables.load(s, dir, "documents")
      .selectExpr("doc_id", "array_sort(array_distinct(word_hashes(text))) AS ws")
      .withColumn("sz", size(col("ws")))
    cand
      .join(sig.select(col("doc_id").as("a"), col("sig").as("siga")), Seq("a"))
      .join(sig.select(col("doc_id").as("b"), col("sig").as("sigb")), Seq("b"))
      .join(sets.select(col("doc_id").as("a"), col("ws").as("wsa"), col("sz").as("sza")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("ws").as("wsb"), col("sz").as("szb")), Seq("b"))
      .withColumn("matches",
        expr("size(filter(sequence(1, 16), i -> element_at(siga, i) = element_at(sigb, i)))"))
      .withColumn("isz", expr("sorted_intersect_count(wsa, wsb)").cast("int"))
      .select(floor(abs(col("matches") / lit(16.0)
          - col("isz").cast("double") / (col("sza") + col("szb") - col("isz"))) * 10)
        .as("err_decile"))
      .groupBy(col("err_decile"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Jaccard threshold for d12's exact set-similarity join. */
  val PrefixJoinThreshold = 0.8

  /** d12: EXACT threshold set-similarity join via prefix filtering — the
    * published alternative to LSH when the answer must be exact (Chaudhuri
    * et al., "A Primitive Operator for Similarity Joins", ICDE 2006; Xiao
    * et al., PPJoin — and the candidate-generation core of the distributed
    * set-similarity joins in PAPERS.md). Order every document's shingle set
    * by a GLOBAL rarity order (df ascending, shingle text tiebreak); if
    * J(x, y) >= t, the two sets MUST share a shingle within their first
    * |s| - ceil(t*|s|) + 1 entries of that order — so an equi-join on
    * prefix shingles generates every qualifying pair, and an exact verify
    * keeps no false positives. On this corpus the prefix join emits exactly
    * the 25 true pairs out of C(500,2) = 125k — a 5000x pair-space cut with
    * zero loss.
    *
    * The oracle is deliberately the BRUTE-FORCE threshold join: hash
    * equality therefore proves the prefix filter lossless on this corpus,
    * not merely self-consistent.
    *
    * Scale shape: df is a shingle-keyed partial+final agg (t6's vocabulary
    * discipline — nothing broadcast by hint); the rarity order needs no
    * global rank materialization because (df, shingle) is itself a total
    * order, so prefix selection is a PER-DOCUMENT window; candidate
    * generation shuffles on the shingle key where the rarity order
    * concentrates work on the rarest (smallest-bucket) shingles — the
    * optional `dfCap` knob ([[prefixCandidates]]) bounds the worst case
    * (mega-duplicate cluster ⇒ quadratic bucket), kept OFF here so the
    * brute-force oracle proves losslessness; the verify re-attaches sets
    * by doc id (AQE-adaptive, d4's discipline).
    */
  val d12 = Q(
    "d12_prefix_filter_join",
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
       |      i -> array_to_string(string_split(text, ' ')[i : i + 2], ' '))) AS sg
       |  FROM documents),
       |p AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b,
       |    len(list_intersect(x.sg, y.sg))::DOUBLE
       |      / (len(x.sg) + len(y.sg) - len(list_intersect(x.sg, y.sg))) AS j
       |  FROM sh x JOIN sh y ON x.doc_id < y.doc_id)
       |SELECT a, b, round(j, 4) AS jaccard FROM p
       |WHERE j >= $PrefixJoinThreshold""".stripMargin) { (s, dir) =>
    prefixFilterJoin(Tables.load(s, dir, "documents"))
  }

  /** d12's candidate stage, exposed for the d12skew scale rung: shingle
    * df agg → per-doc rarity-ordered prefix → prefix-shingle equi-join.
    *
    * `dfCap`: optional frequent-shingle cap on the CANDIDATE key. The
    * rarity order already concentrates work on the rarest shingles, but a
    * mega-cluster of near-identical docs (size c) forces even its rarest
    * SHARED shingle to df ≈ c, making one bucket quadratic — the planted-
    * cluster d12skew rung (BENCH_NOTES.md) measured exactly this. With a
    * cap, prefix entries whose shingle occurs in more than `cap` docs are
    * skipped: candidates stay bounded at c · cap per shingle, at the
    * documented cost of missing pairs whose ONLY shared prefix shingle is frequent
    * (d9's discipline — at a threshold this high such pairs are near-
    * identical, so run exact/normalized dedup (d1/d2) first and the cap
    * loses nothing). Capless is the default so the brute-force oracle
    * remains a losslessness PROOF, not a heuristic comparison.
    */
  def prefixCandidates(docs: org.apache.spark.sql.DataFrame,
      dfCap: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = PrefixJoinThreshold
    val sh = docs.selectExpr("doc_id", "shingles3(text) AS sg")
    val ex = sh.select(col("doc_id"), size(col("sg")).as("sz"), explode(col("sg")).as("g"))
    val dfreq = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
    val pfAll = ex.join(dfreq, Seq("g"))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * t) + 1)
    val pf = dfCap.fold(pfAll)(cap => pfAll.filter(col("df") <= cap))
      .select(col("doc_id"), col("g"))
    pf.select(col("g"), col("doc_id").as("a"))
      .join(pf.select(col("g"), col("doc_id").as("b")), Seq("g"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** d12's pipeline over any `documents`-shaped relation (d12skew rung:
    * df and the prefix width scale with the corpus; the candidate join key
    * stays the rarity-ordered shingle). See [[prefixCandidates]] for the
    * `dfCap` skew knob and its exactness trade.
    */
  def prefixFilterJoin(docs: org.apache.spark.sql.DataFrame,
      dfCap: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val t = PrefixJoinThreshold
    val sh = docs.selectExpr("doc_id", "shingles3(text) AS sg")
    prefixCandidates(docs, dfCap)
      .join(sh.select(col("doc_id").as("a"), col("sg").as("sga")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sg").as("sgb")), Seq("b"))
      .withColumn("isz", size(array_intersect(col("sga"), col("sgb"))))
      .withColumn("jac",
        col("isz").cast("double") / (size(col("sga")) + size(col("sgb")) - col("isz")))
      .filter(col("jac") >= t)
      .select(col("a"), col("b"), round(col("jac"), 4).as("jaccard"))
  }

  /** Fingerprints with document frequency above this are dropped before
    * pairing in d13: a fingerprint shared by many documents is boilerplate
    * (headers, licence text) that carries no plagiarism signal, and — the
    * scale reason — an uncapped fingerprint bucket pairs C(df, 2) ways, the
    * same quadratic-bucket trap d12's dfCap and d9's df≤16 rule close. The
    * cap bounds every bucket's pair fan-out at C(16,2) = 120.
    */
  val WinnowDfCap = 16L

  /** Minimum shared fingerprints for a d13 pair: at K=8 chars per gram and
    * winnow window W=4, four surviving fingerprints witness a copied run of
    * dozens of characters — below that, shared fps are single common
    * substrings, not passages.
    */
  val WinnowMinShared = 4L

  /** d13: winnowing-fingerprint PASSAGE-OVERLAP join (MOSS-style; Schleimer
    * et al., SIGMOD 2003 — the same public algorithm t14's kernel
    * implements). The d3-d7 family measures GLOBAL similarity (MinHash /
    * SimHash over the whole word set) and misses a document that copies one
    * paragraph into otherwise-novel text; winnowing guarantees any shared
    * run of ≥ K+W-1 characters leaves at least one identical fingerprint in
    * both documents, so joining on fingerprints finds local plagiarism /
    * contamination by construction. Pipeline: `winnow_fps(text)` (t14's
    * fused O(n) codegen kernel) → explode → document-frequency cap (df ≤
    * $WinnowDfCap — boilerplate removal AND the quadratic-bucket guard) →
    * self-join keyed on the fingerprint → per-pair shared-fp count ≥
    * $WinnowMinShared.
    *
    * Scale shape: two shuffles keyed on fingerprint (df agg, pair join) +
    * one partial+final agg on the pair key; bucket fan-out is bounded at
    * C(df cap, 2), so no all-pairs blow-up exists anywhere — the same
    * bucketed-join discipline as the rest of the d-family. The initial
    * plan shows the keep-list subtree twice (self-joins duplicate lineage);
    * the two subtrees are identical, so AQE's exchange reuse executes the
    * df aggregation once — and the self-join's two corpus reads are
    * inherent to any self-join that is not pre-materialized (d12 makes the
    * same trade; c-family localCheckpoints instead where the reused input
    * is itself a multi-stage pipeline). Nothing here is force-broadcast:
    * the keep-list and pair-build sides are plain equi-joins that AQE
    * broadcasts only while they measure small.
    */
  /** Exploded (doc_id, fingerprint) rows — d13's join key and the probe's
    * df-census input.
    */
  def winnowFps(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr("winnow_fps(text)")).as("fp"))

  /** The d13 operator body with the df cap and pair threshold as knobs
    * (the d13boiler scale rung in BENCH_NOTES.md measured capless vs
    * capped on a planted boilerplate corpus, same discipline as d12's dfCap
    * rung).
    */
  def winnowOverlapJoin(docs: DataFrame,
      dfCap: Option[Long] = Some(WinnowDfCap),
      minShared: Long = WinnowMinShared): DataFrame = {
    val fps = winnowFps(docs)
    // document-frequency cap: plain equi-joins on fp — AQE broadcasts the
    // keep-list while it measures small, keyed shuffle join at 100x
    val kept = dfCap match {
      case Some(cap) =>
        val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("fp")
        fps.join(keep, Seq("fp"))
      case None => fps
    }
    kept.select(col("fp"), col("doc_id").as("a_id"))
      .join(kept.select(col("fp"), col("doc_id").as("b_id")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  val d13 = Q(
    "d13_winnow_overlap_join",
    s"""WITH ${graft.functions.TextOps.winnowOracleCtes},
      |x AS (SELECT doc_id, unnest(fps) AS fp FROM f),
      |keep AS (SELECT fp FROM x GROUP BY fp HAVING count(*) <= $WinnowDfCap),
      |xk AS (SELECT x.doc_id, x.fp FROM x JOIN keep USING (fp))
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*)::BIGINT AS shared_fps
      |FROM xk a JOIN xk b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |HAVING count(*) >= $WinnowMinShared""".stripMargin) { (s, dir) =>
    winnowOverlapJoin(Tables.load(s, dir, "documents"))
  }

  /** d14: GROUP-AWARE DECONTAMINATION — p9's group-split discipline
    * composed with d9's 5-gram overlap scrub, closing the gap between the
    * two certificates: p9 proves no GROUP straddles the train/eval
    * boundary at split time, d9 proves no surviving EVAL DOC shares a rare
    * 5-gram with train — but a per-doc scrub leaves the contaminated doc's
    * group in eval, and contamination is group-correlated (one crawl of a
    * site that also leaked into train taints its siblings, exactly the
    * failure mode group splits exist to prevent). Here the split is BY
    * GROUP (`source`, hash-deterministic, p9's rule) and the scrub
    * ESCALATES by group: a source whose contaminated fraction reaches
    * [[GroupEvictPct]]% of its eval docs is evicted WHOLESALE
    * (`eval_scrubbed_group` — pervasive leakage means the siblings can't
    * be trusted either), below that only the contaminated docs drop
    * (`eval_scrubbed_doc`) and the group stays. The threshold compare is
    * integer arithmetic (`nc·100 >= n·[[GroupEvictPct]]`) so both engines
    * decide identically. Invariants: the clean-leak certificate rides the
    * query's own final pass as an observed metric (`d14_certificate` /
    * `clean_leaks`, enforced by DedupCertificateSpec), and the
    * split-straddle invariant is structural (split is a pure function of
    * source) — neither costs an extra corpus scan per evaluation anymore.
    *
    * Scale shape: d9's machinery unchanged (shingle shuffles are
    * vocab-keyed and df-capped, never corpus×corpus); the escalation adds
    * one group-keyed agg over eval docs (group-cardinality output,
    * AQE-broadcast while small) and two semi-class joins on scalar keys.
    */
  val GroupEvictPct = 15L

  val d14 = Q(
    "d14_group_decontamination",
    s"""WITH d AS (
       |  SELECT doc_id, text, source,
       |    CASE WHEN ${graft.core.PortableHash.duck("source")} % 10 < 8
       |      THEN 'train' ELSE 'eval' END AS split
       |  FROM documents),
       |tr AS (SELECT doc_id,
       |  unnest(list_distinct(list_transform(
       |    list_transform(generate_series(1, len(string_split(text, ' ')) - 4),
       |      i -> array_to_string(string_split(text, ' ')[i : i + 4], ' ')),
       |    g -> ${graft.core.PortableHash.duck("g")}))) AS sg
       |  FROM d WHERE split = 'train'),
       |keep AS (SELECT sg FROM tr GROUP BY sg
       |         HAVING count(DISTINCT doc_id) <= $ContamDfCap),
       |te AS (SELECT doc_id,
       |  unnest(list_distinct(list_transform(
       |    list_transform(generate_series(1, len(string_split(text, ' ')) - 4),
       |      i -> array_to_string(string_split(text, ' ')[i : i + 4], ' ')),
       |    g -> ${graft.core.PortableHash.duck("g")}))) AS sg
       |  FROM d WHERE split = 'eval'),
       |cont AS (SELECT DISTINCT doc_id FROM te WHERE sg IN (SELECT sg FROM keep)),
       |evict AS (
       |  SELECT d.source FROM d LEFT JOIN cont ON cont.doc_id = d.doc_id
       |  WHERE d.split = 'eval' GROUP BY d.source
       |  HAVING count(cont.doc_id) * 100 >= count(*) * $GroupEvictPct),
       |disp AS (
       |  SELECT d.doc_id, d.source,
       |    CASE WHEN d.split = 'train' THEN 'train'
       |         WHEN d.source IN (SELECT source FROM evict) THEN 'eval_scrubbed_group'
       |         WHEN cont.doc_id IS NOT NULL THEN 'eval_scrubbed_doc'
       |         ELSE 'eval_clean' END AS disposition
       |  FROM d LEFT JOIN cont ON cont.doc_id = d.doc_id)
       |SELECT disposition, count(*) AS n_docs,
       |  count(DISTINCT source) AS n_sources,
       |  sum(doc_id)::BIGINT AS id_checksum
       |FROM disp GROUP BY 1""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val sgExpr =
      s"""IF(size(t) >= 5,
         |  array_distinct(transform(
         |    transform(sequence(1, size(t) - 4), i -> concat_ws(' ', slice(t, i, 5))),
         |    g -> ${graft.core.PortableHash.spark("g")})),
         |  CAST(array() AS ARRAY<BIGINT>))""".stripMargin
    val d = docs
      .withColumn("split",
        when(expr(graft.core.PortableHash.spark("source") + " % 10") < 8, "train")
          .otherwise("eval"))
      .withColumn("t", split(col("text"), " "))
    val tr = d.filter(col("split") === "train")
      .select(col("doc_id"), explode(expr(sgExpr)).as("sg"))
    val keep = tr.groupBy(col("sg"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= ContamDfCap).select("sg")
    val te = d.filter(col("split") === "eval")
      .select(col("doc_id"), col("source"), explode(expr(sgExpr)).as("sg"))
    // Pin the contaminated-doc set ONCE (an O(contamination)-row scalar
    // frame): it feeds both the evict aggregate and the disposition join,
    // and without the pin each consumer re-runs the whole 5-gram
    // explode + df-cap + semi-join pipeline — the r16 advice measured the
    // shingle stages executing ~4x per evaluation (guide §5: reuse beats
    // recompute when the intermediate is tiny and the lineage is hot).
    val cont = te.join(keep, Seq("sg"), "left_semi")
      .select("doc_id").distinct().withColumn("hit", lit(1))
      .localCheckpoint()
    val evict = d.filter(col("split") === "eval")
      .join(cont, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), count(col("hit")).as("nc"))
      .filter(col("nc") * 100 >= col("n") * GroupEvictPct)
      .select(col("source")).withColumn("evicted", lit(1))
    val disp = d.join(evict, Seq("source"), "left")
      .join(cont, Seq("doc_id"), "left")
      .withColumn("disposition",
        when(col("split") === "train", "train")
          .when(col("evicted").isNotNull, "eval_scrubbed_group")
          .when(col("hit").isNotNull, "eval_scrubbed_doc")
          .otherwise("eval_clean"))
    // the composed certificate, riding the pass the query already makes
    // (Dataset.observe / CollectMetrics — q64's ObservedMetricsSpec
    // discipline) instead of the two r16 require() actions that each
    // re-scanned the eval split as a separate job. Metric semantics:
    //   clean_leaks — rows whose disposition is eval_clean but that the
    //     contamination set flagged; the scrub contract demands 0.
    // The require fires IN-QUERY after the collect the row performs (the
    // m6/f19 Observation discipline): a contamination leak aborts the
    // evaluation loudly instead of flowing through — at zero extra jobs,
    // since the collect is the same single pass the metric rides.
    // The split-straddle half of the certificate (no source on both sides
    // of the boundary) is structural — `split` is a pure function of
    // `source` — and is pinned by DedupCertificateSpec rather than
    // re-proved with an extra corpus scan per evaluation.
    val leakObs = org.apache.spark.sql.Observation("d14_certificate")
    val out = disp.observe(leakObs,
        coalesce(sum(when(col("disposition") === "eval_clean" && col("hit").isNotNull,
          1L).otherwise(0L)), lit(0L)).as("clean_leaks"))
      .groupBy(col("disposition"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("doc_id")).as("id_checksum"))
    val rows = out.collect().toIndexedSeq
    // an empty corpus leaks nothing, and shows up one of two ways: the sum
    // over zero rows is null (hence the coalesce), or AQE's empty-relation
    // propagation prunes the observed subtree and no metric is reported —
    // accepted only when the result is empty too
    require(leakObs.get.get("clean_leaks").fold(rows.isEmpty)(_ == 0L),
      "decontamination leak: a flagged doc was dispositioned eval_clean")
    s.createDataFrame(s.sparkContext.parallelize(rows), out.schema)
  }

  val all: Seq[Q] = Seq(d1, d2, d3, d4, d5, d6, d7, d8, d9, d10, d11, d12, d13,
    d14)
}
