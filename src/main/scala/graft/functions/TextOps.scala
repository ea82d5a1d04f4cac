package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}

/** Text-analysis operators for the training-data pipeline (builder brief:
  * token counting, quality scoring, language-ID heuristic, fingerprinting).
  *
  * Everything is Catalyst built-ins + higher-order array functions — fully
  * codegen-friendly, shuffle-free per-row transforms, so these scale as pure
  * map stages over any number of partitions. No UDFs.
  */
object TextOps {

  /** Whitespace tokens of a text column. */
  def tokens(c: Column): Column = split(c, " ")

  /** Distinct token set (bag -> set). */
  def tokenSet(c: Column): Column = array_distinct(split(c, " "))

  /** Portable 32-bit word hash shared with the DuckDB oracle:
    * first 8 hex chars of md5. Base of MinHash/SimHash in [[graft.operators.DedupOps]].
    * SQL fragment form because it's used inside lambda bodies; the canonical
    * idiom lives in [[graft.core.PortableHash]].
    */
  val wordHashSql: String = graft.core.PortableHash.spark("%s")

  /** t1: token statistics — whitespace tokens, distinct tokens, BPE-ish regex
    * tokens, average token length.
    */
  val t1 = Q(
    "t1_token_stats",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
      |  len(regexp_extract_all(text, '[a-z]+')) AS n_word_runs,
      |  round(list_sum(list_transform(string_split(text, ' '), w -> length(w)::DOUBLE))
      |        / len(string_split(text, ' ')), 4) AS avg_token_len
      |FROM documents""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      size(tokenSet(col("text"))).cast("long").as("n_distinct_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long").as("n_word_runs"),
      round(
        expr("aggregate(split(text, ' '), CAST(0 AS DOUBLE), (acc, w) -> acc + length(w))")
          / size(tokens(col("text"))), 4).as("avg_token_len"))
  }

  /** t2: quality scoring — stopword ratio, type/token ratio, length bucket.
    * The stopword list is tiny and inlined; at scale it would be a broadcast
    * set, the plan shape is identical.
    */
  val t2 = Q(
    "t2_quality_score",
    """SELECT doc_id,
      |  round(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a' OR w = 'of'))
      |        / len(string_split(text, ' '))::DOUBLE, 4) AS stopword_ratio,
      |  round(len(list_distinct(string_split(text, ' ')))
      |        / len(string_split(text, ' '))::DOUBLE, 4) AS type_token_ratio,
      |  CASE WHEN n_chars < 200 THEN 'short'
      |       WHEN n_chars < 350 THEN 'medium' ELSE 'long' END AS len_bucket
      |FROM documents""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      round(
        size(expr("filter(split(text, ' '), w -> w = 'the' OR w = 'a' OR w = 'of')"))
          .cast("double") / size(tokens(col("text"))), 4).as("stopword_ratio"),
      round(size(tokenSet(col("text"))).cast("double") / size(tokens(col("text"))), 4)
        .as("type_token_ratio"),
      when(col("n_chars") < 200, "short")
        .when(col("n_chars") < 350, "medium")
        .otherwise("long").as("len_bucket"))
  }

  /** t3: language-ID heuristic — marker-token scoring (the real-world n-gram
    * profile method, reduced to deterministic marker counts so the oracle can
    * replicate it), cross-tabulated against the stored label.
    */
  val t3 = Q(
    "t3_langid_markers",
    """WITH scored AS (
      |  SELECT lang,
      |    len(list_filter(string_split(text, ' '), w -> w = 'the')) AS n_the,
      |    len(list_filter(string_split(text, ' '), w -> w = 'a'))   AS n_a,
      |    len(list_filter(string_split(text, ' '), w -> w = 'data')) AS n_data
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN n_the >= n_a AND n_the >= n_data THEN 'the-heavy'
      |       WHEN n_a >= n_data THEN 'a-heavy' ELSE 'data-heavy' END AS pred_class,
      |  count(*) AS n
      |FROM scored GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val scored = Tables.load(s, dir, "documents").select(
      col("lang"),
      size(expr("filter(split(text, ' '), w -> w = 'the')")).as("n_the"),
      size(expr("filter(split(text, ' '), w -> w = 'a')")).as("n_a"),
      size(expr("filter(split(text, ' '), w -> w = 'data')")).as("n_data"))
    scored.select(
      col("lang"),
      when(col("n_the") >= col("n_a") && col("n_the") >= col("n_data"), "the-heavy")
        .when(col("n_a") >= col("n_data"), "a-heavy")
        .otherwise("data-heavy").as("pred_class"))
      .groupBy("lang", "pred_class")
      .agg(count(lit(1)).as("n"))
  }

  /** t4: document fingerprinting — order-insensitive content fingerprint
    * (md5 of the sorted distinct token set) + a prefix fingerprint. The
    * sorted-set fingerprint is the canonical key for normalized dedup.
    */
  val t4 = Q(
    "t4_fingerprint",
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS set_fp,
      |  md5(substring(text, 1, 64)) AS prefix_fp
      |FROM documents""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      md5(concat_ws(" ", array_sort(tokenSet(col("text"))))).as("set_fp"),
      md5(substring(col("text"), 1, 64)).as("prefix_fp"))
  }

  /** t5: quality FILTER (not just scoring) — the pipeline op that actually
    * drops documents: keep length >= 200 chars with a sane stopword rate.
    * Pure predicate -> pushes to the scan, shuffle-free at any scale.
    */
  val t5 = Q(
    "t5_quality_filter",
    """SELECT doc_id FROM documents
      |WHERE n_chars >= 200
      |  AND len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a' OR w = 'of'))
      |      / len(string_split(text, ' '))::DOUBLE BETWEEN 0.05 AND 0.5""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .filter(col("n_chars") >= 200 &&
        (size(expr("filter(split(text, ' '), w -> w = 'the' OR w = 'a' OR w = 'of')"))
          .cast("double") / size(tokens(col("text")))).between(0.05, 0.5))
      .select(col("doc_id"))
  }

  /** t6: TF-IDF top terms per document — the classic salient-term scoring
    * op for training-data curation. Term frequency per (doc, term), document
    * frequency per term, weight = tf * ln(N / df), top-3 terms per doc.
    *
    * Scale shape: both aggs are partial+final hash aggs. The df relation's
    * cardinality is the corpus VOCABULARY — small on this fixture but
    * unbounded for 100 TB of web text (billions of unigrams) — so it is NOT
    * force-broadcast: the tf-df join is a plain equi-join on the term key
    * (df side has exactly one row per key, so hot terms cannot blow up the
    * join; AQE's skew split levels the partition sizes) and AQE converts it
    * to a broadcast join at runtime while the vocabulary measures small.
    * The standard production noise cut — pre-prune `HAVING df >= k`, which
    * also shrinks the vocabulary — is deliberately NOT applied here so the
    * oracle semantics stay exact. The global doc count is a single-row
    * aggregate (bounded at any scale) and rides a broadcast; top-k per doc
    * is a bounded window. ln() is IEEE-identical across engines; weights
    * rounded to 4 places for the hash compare.
    */
  val t6 = Q(
    "t6_tfidf_topterms",
    """WITH tf AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, tfc.term, round(tf * ln(n.n::DOUBLE / df.df), 4) AS tfidf
      |  FROM tfc JOIN df ON df.term = tfc.term, n)
      |SELECT doc_id, term, tfidf, rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      |  FROM scored) t
      |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.load(s, dir, "documents").agg(count(lit(1)).as("n"))
    val scored = tf
      .join(df, Seq("term"))
      .join(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4).as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rnk"))
  }

  /** t7: blocklist scrub — the REWRITE member of the text family (t1-t5
    * score and filter; this one transforms): blocklisted tokens are replaced
    * with a placeholder and the op reports the redaction count plus a
    * fingerprint of the scrubbed text. Token-level replacement (not regex)
    * keeps the semantics engine-portable and the whole op a shuffle-free,
    * codegen-friendly map stage; at scale the blocklist would arrive as a
    * broadcast set with the identical plan shape.
    */
  val t7 = Q(
    "t7_blocklist_scrub",
    """SELECT doc_id,
      |  len(list_filter(string_split(text, ' '),
      |      w -> w IN ('key', 'hash', 'value'))) AS n_redacted,
      |  md5(array_to_string(list_transform(string_split(text, ' '),
      |      w -> CASE WHEN w IN ('key', 'hash', 'value') THEN '<TERM>' ELSE w END), ' '))
      |    AS redacted_fp
      |FROM documents""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      size(expr("filter(split(text, ' '), w -> w IN ('key', 'hash', 'value'))"))
        .cast("long").as("n_redacted"),
      md5(concat_ws(" ",
        expr("transform(split(text, ' '), w -> CASE WHEN w IN ('key', 'hash', 'value') THEN '<TERM>' ELSE w END)")))
        .as("redacted_fp"))
  }

  /** t8: bigram vocabulary — the n-gram (n=2) extension of t6's unigram
    * vocabulary: top-20 bigrams by total count among those appearing in at
    * least 5 documents. The df >= 5 cut is the standard vocabulary noise
    * floor (and the pre-pruning that keeps an n-gram vocab bounded at scale
    * — n-gram counts grow super-linearly in corpus size without it). Plan:
    * per-row bigram expansion (one pass over the token array, codegen
    * generator), partial+final hash agg on the bigram key, and top-k via
    * TakeOrderedAndProject — never a global sort. Ties broken by bigram
    * text so the top-20 is deterministic.
    */
  val t8 = Q(
    "t8_bigram_vocab",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
      |         i -> t[i] || ' ' || t[i + 1])) AS bigram FROM toks)
      |SELECT bigram, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
      |FROM bg GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5
      |ORDER BY n_total DESC, bigram LIMIT 20""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(
        expr("transform(slice(t, 1, size(t) - 1), (x, i) -> concat(x, ' ', element_at(t, i + 2)))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n_total"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 5)
      .orderBy(col("n_total").desc, col("bigram"))
      .limit(20)
  }

  /** t9: intra-document repetition score — the duplicate-3-gram ratio
    * (1 - distinct/total shingles), the Gopher-family repetition signal for
    * machine-generated or boilerplate text. This corpus tops out at ~0.07
    * (clean synthetic prose), so t9 registers as a SCORE like t1/t2 rather
    * than a filter; the production cut (drop > 0.2) is one predicate away.
    * Shuffle-free map stage; distinct-shingle counting rides the fused
    * codegen `shingles3`.
    */
  val t9 = Q(
    "t9_repetition_score",
    """SELECT doc_id,
      |  round(1.0 - len(list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
      |      i -> array_to_string(string_split(text, ' ')[i : i + 2], ' '))))::DOUBLE
      |    / (len(string_split(text, ' ')) - 2), 4) AS dup3_ratio
      |FROM documents""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      round(lit(1.0) - size(expr("shingles3(text)")).cast("double")
        / (size(tokens(col("text"))) - 2), 4).as("dup3_ratio"))
  }

  /** t10: unigram language-model log-probability scoring — the
    * perplexity-style quality signal (CCNet-family): train an add-one
    * smoothed unigram LM on the train split of the hash partition (q38/d9's
    * portable md5 split, b < 9) and score each held-out document (b = 9) by
    * its mean negative log-likelihood. High avg_nll = improbable text under
    * the corpus distribution — the production cut drops the top tail.
    *
    * Scale shape: token explode + partial+final hash agg builds the LM
    * (vocabulary-keyed, like t6's df); scoring is an equi-join on the term
    * key — vocabulary-cardinality, NOT hint-broadcast, so AQE picks
    * broadcast while the vocab measures small and degrades to a term-keyed
    * shuffle join at web scale (t6's exact scale story). The (N, V)
    * normalizer is a single-row aggregate and rides a broadcast. The final
    * per-doc avg is rounded to 4 places: token order within a doc's sum is
    * engine-dependent, and the ~1e-12 accumulation noise sits far inside
    * the rounding grid.
    */
  val t10 = Q(
    "t10_unigram_logprob",
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    ${graft.core.PortableHash.duck("doc_id::VARCHAR")} % 10 AS b
       |  FROM documents),
       |tr AS (SELECT unnest(string_split(text, ' ')) AS term FROM d WHERE b < 9),
       |c AS (SELECT term, count(*) AS cnt FROM tr GROUP BY 1),
       |tot AS (SELECT sum(cnt)::BIGINT AS n, count(*)::BIGINT AS v FROM c),
       |te AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |       FROM d WHERE b = 9)
       |SELECT te.doc_id, count(*)::BIGINT AS n_tokens,
       |  round(avg(-ln((coalesce(c.cnt, 0) + 1)::DOUBLE / (tot.n + tot.v)::DOUBLE)), 4)
       |    AS avg_nll
       |FROM te LEFT JOIN c ON c.term = te.term, tot
       |GROUP BY 1""".stripMargin) { (s, dir) =>
    unigramNll(Tables.load(s, dir, "documents"))
  }

  /** t10's pipeline over any `documents`-shaped relation — the t10 scale
    * rung (BENCH_NOTES.md) ran it on multiplied corpora (vocabulary and
    * split both grow with k).
    */
  def unigramNll(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d = docs
      .withColumn("b",
        expr(graft.core.PortableHash.spark("CAST(doc_id AS STRING)") + " % 10"))
    val counts = d.filter(col("b") < 9)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("n"), count(lit(1)).as("v"))
    d.filter(col("b") === 9)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .join(counts, Seq("term"), "left")
      .join(broadcast(totals))
      .select(col("doc_id"),
        (-log((coalesce(col("cnt"), lit(0L)) + 1).cast("double")
          / (col("n") + col("v")).cast("double"))).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("nll")), 4).as("avg_nll"))
  }

  /** t11: per-source distribution divergence — KL(P_source || P_corpus)
    * over unigram distributions, the drift monitor a curation pipeline
    * runs per ingest source (a source whose token distribution diverges
    * from the corpus is boilerplate, spam, or a different register, and
    * KL is the standard scalar for it). Source vocabularies are subsets
    * of the corpus vocabulary, so every ratio is finite.
    *
    * Scale shape: one token explode feeds three partial+final hash aggs
    * (per-source-term, per-source, per-term); scoring joins are keyed on
    * source / term (AQE-adaptive, never hint-broadcast — vocabulary and
    * source counts both grow); the grand total is a 1-row broadcast. The
    * KL sum is rounded to 4 places (unordered double accumulation).
    */
  val t11 = Q(
    "t11_source_divergence",
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
      |sc AS (SELECT source, term, count(*) AS c FROM tok GROUP BY 1, 2),
      |st AS (SELECT source, sum(c)::BIGINT AS ns FROM sc GROUP BY 1),
      |ct AS (SELECT term, sum(c)::BIGINT AS cc FROM sc GROUP BY 1),
      |n AS (SELECT sum(cc)::BIGINT AS n FROM ct)
      |SELECT sc.source, st.ns AS n_tokens,
      |  round(sum((sc.c::DOUBLE / st.ns) * ln((sc.c::DOUBLE / st.ns) / (ct.cc::DOUBLE / n.n))), 4)
      |    AS kl
      |FROM sc JOIN st USING (source) JOIN ct USING (term), n
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val sc = Tables.load(s, dir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val st = sc.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val ct = sc.groupBy(col("term")).agg(sum(col("c")).as("cc"))
    val n = ct.agg(sum(col("cc")).as("n"))
    val ps = col("c").cast("double") / col("ns")
    sc.join(st, Seq("source")).join(ct, Seq("term")).join(broadcast(n))
      .select(col("source"), col("ns"),
        (ps * log(ps / (col("cc").cast("double") / col("n")))).as("term_kl"))
      .groupBy(col("source"), col("ns"))
      .agg(round(sum(col("term_kl")), 4).as("kl"))
      .select(col("source"), col("ns").as("n_tokens"), col("kl"))
  }

  /** t12 span length (tokens per boilerplate n-gram) and document-frequency
    * floor: a 5-token span seen in >= 3 distinct documents is boilerplate.
    */
  val BoilerGram = 5
  val BoilerDf = 3

  /** t12: boilerplate span scrub — the cross-document twin of t7's
    * blocklist scrub (C4/CCNet-family "remove repeated lines" cleanup,
    * token-span flavored since this corpus has no line structure): any
    * $BoilerGram-token span occurring in >= $BoilerDf distinct documents is
    * boilerplate; every token position covered by such a span is removed
    * and the op reports per-document totals plus a fingerprint of the
    * scrubbed text (content-verified, like t7). On this corpus the frequent
    * spans are exactly the planted near-duplicate documents' shared runs —
    * the signal the cleanup exists to catch.
    *
    * Scale shape: span expansion is a generator map stage; the frequency
    * floor is a partial+final hash agg on the span key (the same
    * vocabulary-keyed shape as t6/t8 — never broadcast by hint, and the
    * df floor itself is what keeps the frequent-span relation small);
    * occurrence marking is an equi-join on the span key; coverage →
    * kept-token reconstruction is one (doc_id, pos) anti-ish left join and
    * a per-document ordered aggregation. Every shuffle key is
    * high-cardinality.
    */
  val t12 = Q(
    "t12_boilerplate_scrub",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |g AS (SELECT doc_id, st, array_to_string(tk[st : st + ${BoilerGram - 1}], ' ') AS gram
       |      FROM t, unnest(generate_series(1, len(tk) - ${BoilerGram - 1})) AS u(st)),
       |f AS (SELECT gram FROM g GROUP BY 1
       |      HAVING count(DISTINCT doc_id) >= $BoilerDf),
       |cov AS (SELECT DISTINCT g.doc_id, p AS pos
       |        FROM g JOIN f USING (gram),
       |          unnest(generate_series(g.st, g.st + ${BoilerGram - 1})) AS v(p)),
       |tks AS (SELECT doc_id, p AS pos, tk[p] AS tok
       |        FROM t, unnest(generate_series(1, len(tk))) AS w(p))
       |SELECT tks.doc_id, count(*)::BIGINT AS n_tokens,
       |  sum(CASE WHEN cov.pos IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed,
       |  md5(coalesce(array_to_string(
       |    list(tok ORDER BY tks.pos) FILTER (WHERE cov.pos IS NULL), ' '), ''))
       |    AS scrubbed_fp
       |FROM tks LEFT JOIN cov ON cov.doc_id = tks.doc_id AND cov.pos = tks.pos
       |GROUP BY 1""".stripMargin) { (s, dir) =>
    boilerplateScrub(Tables.load(s, dir, "documents"))
  }

  /** t12's pipeline over any `documents`-shaped relation — the t12 scale
    * rung (BENCH_NOTES.md) ran it on multiplied corpora with the df floor
    * scaled ∝ N (boilerplate is a relative-frequency notion, like d9's
    * ContamDfCap).
    */
  def boilerplateScrub(docs: org.apache.spark.sql.DataFrame,
      dfFloor: Int = BoilerDf): org.apache.spark.sql.DataFrame = {
    val t = docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    // Spark's sequence(1, n) steps DOWNWARD for n < 1, so the generator is
    // guarded on size; short documents still appear via the tok side.
    val g = t.filter(size(col("tk")) >= BoilerGram)
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(1, size(tk) - ${BoilerGram - 1})")).as("st"))
      .select(col("doc_id"), col("st"),
        expr(s"concat_ws(' ', slice(tk, st, $BoilerGram))").as("gram"))
    val f = g.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= dfFloor)
      .select("gram")
    val cov = g.join(f, Seq("gram"))
      .select(col("doc_id"),
        explode(expr(s"sequence(st, st + ${BoilerGram - 1})")).as("pos"))
      .distinct()
      .withColumn("covered", lit(1))
    val tok = t
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    tok.join(cov, Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("covered").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        md5(concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN covered IS NULL THEN struct(pos, tok) END)), s -> s.tok)")))
          .as("scrubbed_fp"))
  }

  /** t13: vocabulary head coverage — per language, the share of all token
    * occurrences held by the 10 most frequent tokens (the Zipf-head
    * statistic: natural language concentrates 30-50% of mass in the head;
    * a corpus whose head share drifts is boilerplate-heavy or degenerate —
    * a standard corpus-health dial next to t11's KL drift). Counts are
    * exact integers; the share is one closed-form division (q53's moment
    * discipline).
    *
    * Scale shape: token counts are a (lang, term)-keyed partial+final agg;
    * the head rank is a window over the AGGREGATED vocabulary relation
    * (one row per distinct term, not per token). At web scale the per-lang
    * rank would cap candidates first (t8's df floor / top-k shape); the
    * aggregation-before-window order is what keeps the window input small.
    */
  val t13 = Q(
    "t13_head_coverage",
    """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
      |c AS (SELECT lang, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
      |r AS (SELECT lang, cnt,
      |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rk FROM c)
      |SELECT lang, sum(cnt)::BIGINT AS n_tokens,
      |  sum(CASE WHEN rk <= 10 THEN cnt ELSE 0 END)::BIGINT AS head10_tokens,
      |  round(sum(CASE WHEN rk <= 10 THEN cnt ELSE 0 END)::DOUBLE / sum(cnt), 4)
      |    AS head10_share
      |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val c = Tables.load(s, dir, "documents")
      .select(col("lang"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("term"))
    c.withColumn("rk", row_number().over(w))
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(when(col("rk") <= 10, col("cnt")).otherwise(0L)).as("head10_tokens"),
        round(sum(when(col("rk") <= 10, col("cnt")).otherwise(0L)).cast("double")
          / sum(col("cnt")), 4).as("head10_share"))
  }

  /** t14: winnowed rolling-hash fingerprints (Schleimer et al., SIGMOD 2003
    * — the MOSS scheme; completes the brief's "fingerprinting (rolling
    * hash)" next to t4's whole-document md5 forms). Per document: Rabin-
    * Karp rolling hashes of 8-char grams, winnowed to the per-4-window
    * minima — any shared substring of >= 11 chars between two documents is
    * GUARANTEED to share a selected fingerprint, which is what makes this
    * the standard partial-overlap/plagiarism key where t4's all-or-nothing
    * hashes see nothing. The fused O(n) kernel is the 8th custom codegen
    * expression ([[RollingHashKernel]]); the oracle recomputes every gram's
    * polynomial hash positionally (O(n·k) SQL, mathematically equal mod P)
    * and re-winnows with list slices, so a single rolling-update or
    * window-selection bug breaks the hash.
    *
    * Scale shape: shuffle-free per-row map stage; output one narrow row per
    * doc (count + digest), with the fingerprint SET itself staying inside
    * the row — the join-ready exploded form is `explode(winnow_fps(text))`,
    * same discipline as d9's inverted index.
    */
  /** DuckDB CTEs computing each document's winnowed fingerprint set —
    * positional replay of the `winnow_fps` codegen kernel (K=8, W=4, B=31,
    * P=1e9+7). Shared by t14's digest oracle and d13's overlap-join oracle.
    */
  val winnowOracleCtes: String =
    """h AS (
      |  SELECT doc_id, text,
      |    CASE WHEN len(text) >= 8 THEN
      |      list_transform(generate_series(1, len(text) - 7), i ->
      |        list_sum(list_transform(generate_series(0, 7), j ->
      |          ascii(substring(text, i + j, 1))
      |            * [27512614111, 887503681, 28629151, 923521, 29791, 961, 31, 1][j + 1]))
      |        % 1000000007)
      |    ELSE [] END AS hashes
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, text,
      |    CASE WHEN len(hashes) = 0 THEN []
      |    ELSE list_sort(list_distinct(
      |      list_transform(generate_series(1, greatest(len(hashes) - 3, 1)), i ->
      |        list_min(hashes[i : i + 3]))))
      |    END AS fps
      |  FROM h)""".stripMargin

  val t14 = Q(
    "t14_winnow_fingerprints",
    s"""WITH $winnowOracleCtes
      |SELECT doc_id,
      |  greatest(len(text) - 7, 0)::BIGINT AS n_grams,
      |  len(fps)::BIGINT AS n_fps,
      |  md5(coalesce(array_to_string(fps, ','), '')) AS fp_digest
      |FROM f""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      greatest(length(col("text")) - 7, lit(0)).cast("long").as("n_grams"),
      expr("size(winnow_fps(text))").cast("long").as("n_fps"),
      // array-level cast, not transform(x -> cast): a lambda here would be
      // CodegenFallback and kick the whole projection out of codegen
      md5(concat_ws(",",
        expr("cast(winnow_fps(text) AS array<string>)"))).as("fp_digest"))
  }

  /** Max number of BPE merge rounds t15 trains; the loop ALSO stops early —
    * data-dependently — once the best pair's corpus count falls below
    * [[BpeMinPairCount]] (or no pair exists at all), so the round count is
    * min(saturation, this cap), not a compile-time constant.
    */
  val BpeMaxRounds = 20

  /** Data-dependent stop threshold for [[bpeTrain]]: merging a pair seen
    * fewer than this many times grows the vocabulary without compressing the
    * corpus, which is where real tokenizer training stops (or switches to a
    * vocab-size budget). 2 is the classic "no singleton merges" floor.
    */
  val BpeMinPairCount = 2L

  /** BPE merge-round training loop (Sennrich et al., ACL 2016) over a
    * character-split word vocabulary `(syms, freq)`: per round (a) count
    * adjacent symbol pairs weighted by word frequency, (b) pick the most
    * frequent pair (count desc, pair asc — a total, engine-portable
    * tie-break over pure-ASCII wrapped symbols), (c) merge it everywhere.
    * Symbols are angle-bracket-wrapped (`<l> <l>`), so the string-level
    * `replace` both CANNOT match across symbol boundaries (multi-char
    * symbols never expose a bare `x> <y` pattern that equals a wrapped
    * pair) and is exactly BPE's left-to-right non-overlapping greedy merge
    * (`<a> <a> <a>` → `<aa> <a>`). Runs until `maxRounds` merges or until
    * the best pair count drops below `minPairCount` — whichever comes
    * first. Returns one row per EXECUTED merge round:
    * `(merge_round, merged, cnt)`.
    *
    * Scale shape: everything is VOCABULARY-keyed, never corpus-keyed; each
    * round shuffles pair counts (vocab-sized) and takes top-1 as
    * TakeOrderedAndProject. The per-round winner is a ONE-ROW collect — a
    * scalar driver probe deciding loop control flow (c1's convergence-probe
    * discipline, [[graft.operators.ClusterOps.connectedComponents]]); no
    * corpus or vocabulary row data ever reaches the driver. The vocab
    * frontier is localCheckpoint'ed per round so lineage (and the plan fed
    * to each job) stays flat across arbitrarily many merges; a production
    * 30k-merge train runs this exact loop with periodic RELIABLE
    * checkpoints (`spark.sparkContext.setCheckpointDir` + `checkpoint()`,
    * or a vocab table rewrite every few hundred merges) instead of
    * localCheckpoint, whose blocks die with an executor. The pair explode
    * is a higher-order `transform` (interpreted), acceptable off the
    * corpus hot path at vocab cardinality.
    */
  def bpeTrain(
      spark: org.apache.spark.sql.SparkSession,
      vocab: org.apache.spark.sql.DataFrame,
      maxRounds: Int = BpeMaxRounds,
      minPairCount: Long = BpeMinPairCount): org.apache.spark.sql.DataFrame = {
    var words = vocab.localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var saturated = false
    while (!saturated && merges.length < maxRounds) {
      // 1-row scalar probe: the argmax pair and its count (never row data)
      val best = words
        .select(col("freq"), split(col("syms"), " ").as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(a) - 1), " +
            "i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .collect()
      if (best.isEmpty || best.head.getAs[Long]("cnt") < minPairCount) saturated = true
      else {
        val bp = best.head.getAs[String]("pair")
        val next = words
          .select(replace(col("syms"), lit(bp), lit(bp.replace("> <", ""))).as("syms"),
            col("freq"))
          .localCheckpoint()
        // the eager checkpoint above materialized `next` from the old
        // frontier's blocks — release them now so a long train holds ONE
        // vocab copy in executor storage, not one per round
        graft.core.Checkpoints.release(words)
        words = next
        merges += ((merges.length + 1L,
          bp.replace("> <", "").replace("<", "").replace(">", ""),
          best.head.getAs[Long]("cnt")))
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_round", "merged", "cnt")
  }

  /** t15: BPE merge-round TRAINING via [[bpeTrain]] — the
    * tokenizer-construction dataflow the token-counting family consumes,
    * run for up to [[BpeMaxRounds]] data-dependent merges with the
    * [[BpeMinPairCount]] saturation stop. Output: one row per executed
    * round — the merged symbol and its pre-merge pair count.
    *
    * The oracle unrolls the SAME [[BpeMaxRounds]] rounds as a generated CTE
    * chain that models the stop rule inside SQL: each round's winner CTE
    * keeps only pairs with `cnt >= threshold` (empty once saturated — and
    * saturation is monotone: an un-merged vocab reproduces the identical
    * sub-threshold argmax next round), and the vocab CTE LEFT-JOINs the
    * winner so a stopped round passes the vocabulary through unchanged
    * instead of annihilating it. So Spark's while-loop and the oracle's
    * fixed-depth chain provably emit the same row set for any corpus, not
    * just ones that exhaust the cap. [[graft.TextOpsSpec]] additionally
    * property-checks the loop against an independent in-memory reference
    * BPE on crafted + randomized corpora, including early-stop cases.
    */
  val t15 = {
    // MATERIALIZED on the multi-referenced CTEs (w_r feeds both a_{r+1} and
    // w_{r+1}; b_r feeds w_r and the final select): DuckDB inlines CTEs by
    // default, so an N-deep chain would otherwise expand to 2^N scans
    val roundCtes = (1 to BpeMaxRounds).map { r =>
      s"""a$r AS (SELECT freq, string_split(syms, ' ') AS a FROM w${r - 1}),
         |l$r AS (SELECT freq, list_transform(generate_series(1, len(a) - 1),
         |          i -> a[i] || ' ' || a[i + 1]) AS ps
         |        FROM a$r WHERE len(a) >= 2),
         |pp$r AS (SELECT freq, unnest(ps) AS pair FROM l$r),
         |pc$r AS (SELECT pair, sum(freq)::BIGINT AS cnt FROM pp$r GROUP BY 1),
         |b$r AS MATERIALIZED (SELECT pair, cnt FROM pc$r WHERE cnt >= $BpeMinPairCount
         |        ORDER BY cnt DESC, pair LIMIT 1),
         |w$r AS MATERIALIZED (SELECT CASE WHEN b.pair IS NOT NULL
         |            THEN replace(syms, b.pair, replace(b.pair, '> <', ''))
         |            ELSE syms END AS syms, freq
         |        FROM w${r - 1} LEFT JOIN b$r b ON true)""".stripMargin
    }.mkString(",\n")
    val finalSelect = (1 to BpeMaxRounds).map { r =>
      s"""SELECT $r::BIGINT AS merge_round,
         |  replace(replace(replace(pair, '> <', ''), '<', ''), '>', '') AS merged,
         |  cnt FROM b$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    Q(
      "t15_bpe_merge_rounds",
      s"""WITH tok AS (
         |  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
         |w0 AS MATERIALIZED (
         |  SELECT trim(regexp_replace(w, '(.)', '<\\1> ', 'g')) AS syms,
         |    count(*)::BIGINT AS freq
         |  FROM tok WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) <= 20
         |  GROUP BY 1),
         |$roundCtes
         |$finalSelect""".stripMargin) { (s, dir) =>
      val vocab = Tables.load(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]+$") && length(col("w")) <= 20)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .select(expr("trim(regexp_replace(w, '(.)', '<$1> '))").as("syms"), col("freq"))
      bpeTrain(s, vocab)
    }
  }

  /** CMS geometry for t16: ε = 1% of total token mass as the overcount
    * bound, 99% per-query confidence, fixed seed. Spark sizes the sketch
    * as ceil(2/ε) × ceil(ln(1−conf)/ln(0.5)) counters — ~200×7 longs,
    * fixed regardless of corpus size.
    */
  val CmsEps = 0.01
  val CmsConfidence = 0.99
  val CmsSeed = 42
  val CmsTopK = 20

  /** t16: COUNT-MIN-SKETCH heavy hitters — the frequency sketch next to
    * q28's HLL (distinct counting) and q39's KLL-style percentiles: a
    * fixed-size mergeable summary that answers "how often does token X
    * occur" over a corpus too large to exact-count cheaply. Like those
    * rows, this is a TOLERANCE CERTIFICATE: sketch internals are
    * engine-specific and can never hash-match an oracle, so Spark computes
    * BOTH the exact top-[[CmsTopK]] token counts and the CMS estimate for
    * each, and emits two verdict columns the oracle asserts literally —
    * `ge_exact` (CMS never under-counts: every estimate is a min over
    * counters the true count incremented) and `within_eps` (overcount
    * ≤ ε·N with probability ≥ conf per query; at 20 queries and ε·N in
    * the hundreds the bound holds with overwhelming margin on any seed).
    *
    * Scale shape: the sketch is ONE partial+final aggregate of fixed size
    * (counter matrices sum element-wise — the mergeability that lets
    * every shard/day keep its own sketch and the lake OR them together);
    * the exact side exists for the certificate and rides the t-family's
    * token shuffle. At 100 TB the production pattern keeps only the
    * sketch + a candidate set from per-partition local top-k.
    */
  val t16 = Q(
    "t16_cms_heavy_hitters",
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |SELECT tok, count(*)::BIGINT AS exact_cnt,
       |  'ge_exact' AS lower_check, 'within_eps' AS upper_check
       |FROM toks GROUP BY 1
       |ORDER BY exact_cnt DESC, tok LIMIT $CmsTopK""".stripMargin) { (s, dir) =>
    val toks = Tables.load(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
    val sketch = toks.agg(
      expr(s"count_min_sketch(tok, ${CmsEps}d, ${CmsConfidence}d, $CmsSeed)").as("sk"),
      count(lit(1)).as("total"))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok")).limit(CmsTopK)
    val estimate = udf((sk: Array[Byte], tok: String) =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(sk)).estimateCount(tok))
    top.join(broadcast(sketch))
      .withColumn("est", estimate(col("sk"), col("tok")))
      .select(col("tok"), col("exact_cnt"),
        when(col("est") >= col("exact_cnt"), "ge_exact")
          .otherwise("undercount").as("lower_check"),
        when(col("est") <= col("exact_cnt") + ceil(lit(CmsEps) * col("total")), "within_eps")
          .otherwise("over_eps").as("upper_check"))
  }

  /** t17: STRUCTURED PII redaction — the regex member of the scrub family
    * (t7 replaces blocklisted TOKENS; real pipelines also strip
    * pattern-shaped identifiers: emails, phone numbers, IPs). The corpus
    * is word-token text with no PII by construction, so deterministic
    * spans are injected first (doc_id % 3 → an email, % 5 → a phone,
    * % 7 → an IP — the multimodal family's synthesize-then-certify
    * discipline, MultimodalOps.withPayloads), then the redaction chain
    * runs and the census prices per-language doc counts, per-type match
    * counts, and a content checksum of the REDACTED text — one engine
    * disagreeing on a single character of any replacement breaks the hash.
    *
    * Pattern dialect: conservative regex only (character classes, bounded
    * repetition — no lookaround, no backreferences), the subset Java
    * regex (Spark) and RE2 (DuckDB) evaluate identically; DuckDB's
    * regexp_replace needs the explicit 'g' flag for Spark's replace-all
    * semantics. Shuffle-free map stage + one k-row census agg; at scale
    * this is the same per-partition rewrite pass as t7/t12.
    */
  val t17 = {
    val email = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,4}"
    val phone = "555-[0-9]{1,6}"
    val ip = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    // deterministic injection (SQL shared conceptually by both sides;
    // written in each dialect below)
    Q(
      "t17_pii_redaction",
      s"""WITH injected AS (
         |  SELECT doc_id, lang,
         |    text
         |      || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
         |      || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || (doc_id % 10000) || ' ext' ELSE '' END
         |      || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id // 256) % 256) || ' host' ELSE '' END
         |      AS text
         |  FROM documents),
         |red AS (
         |  SELECT doc_id, lang,
         |    len(regexp_extract_all(text, '$email')) AS n_email,
         |    len(regexp_extract_all(text, '$phone')) AS n_phone,
         |    len(regexp_extract_all(text, '$ip')) AS n_ip,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g')
         |      AS redacted
         |  FROM injected)
         |SELECT lang,
         |  count(*) AS n_docs,
         |  sum(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_pii,
         |  sum(n_email)::BIGINT AS emails, sum(n_phone)::BIGINT AS phones, sum(n_ip)::BIGINT AS ips,
         |  sum(${graft.core.PortableHash.duck("redacted")})::BIGINT AS content_checksum
         |FROM red GROUP BY lang""".stripMargin) { (s, dir) =>
      val injected = Tables.load(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com now"))).otherwise(""),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call 555-"), col("doc_id") % 10000, lit(" ext"))).otherwise(""),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10.0."), col("doc_id") % 256, lit("."),
              (col("doc_id") / 256).cast("long") % 256, lit(" host"))).otherwise(""))
          .as("text"))
      val red = injected.select(
        col("doc_id"), col("lang"),
        size(expr(s"regexp_extract_all(text, '$email', 0)")).cast("long").as("n_email"),
        size(expr(s"regexp_extract_all(text, '$phone', 0)")).cast("long").as("n_phone"),
        size(expr(s"regexp_extract_all(text, '$ip', 0)")).cast("long").as("n_ip"),
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          email, "<EMAIL>"), phone, "<PHONE>"), ip, "<IP>").as("redacted"))
      red.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_email") + col("n_phone") + col("n_ip") > 0, 1L).otherwise(0L))
            .as("docs_with_pii"),
          sum(col("n_email")).as("emails"),
          sum(col("n_phone")).as("phones"),
          sum(col("n_ip")).as("ips"),
          sum(expr(graft.core.PortableHash.spark("redacted"))).as("content_checksum"))
    }
  }

  val all: Seq[Q] =
    Seq(t1, t2, t3, t4, t5, t6, t7, t8, t9, t10, t11, t12, t13, t14, t15, t16,
      t17)
}
