package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-ladder probe for the three operators whose joins became
  * size-adaptive in round 3 (d4 LSH verify, e1 embedding near-dup, t6
  * TF-IDF): runs each on 1x/4x/16x synthetic multiples of the corpus and
  * prints per-step wall times as one JSON line. The multiplied corpus gives
  * every clone distinct ids (shifted doc_id/vec_id) and perturbed content
  * (a suffix token per clone / one perturbed vector element), so candidate
  * structures GROW with the corpus instead of collapsing onto duplicate
  * keys.
  *
  * This is evidence, not proof: near-linear growth here means the shapes
  * hold while relative relation sizes shift; the 100x claim rests on the
  * plan invariants guarded in PlanShapeSpec (no corpus-sized broadcast
  * hints, no arrays on the band-key shuffle).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ScaleProbe"
  */
object ScaleProbe {

  /** documents unioned `k` times: clone i shifts doc_id by i*10M and appends
    * a clone-specific token so normalized fingerprints and word sets differ.
    */
  private def docsTimes(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val base = graft.core.Tables.load(spark, dir, "documents")
    (0 until k).map { i =>
      base.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        concat(col("text"), lit(s" clonetok$i")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ union _)
  }

  /** embeddings unioned `k` times with shifted vec_id and the first element
    * nudged per clone (keeps vectors near their original — the LSH buckets
    * stay populated — without exact duplicates).
    */
  private def vecsTimes(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val base = graft.core.Tables.load(spark, dir, "embeddings")
    (0 until k).map { i =>
      base.select(
        (col("vec_id") + lit(i.toLong * 10_000_000L)).as("vec_id"),
        expr(s"transform(embedding, (x, j) -> CASE WHEN j = 0 THEN CAST(x + ${i * 0.01}f AS FLOAT) ELSE x END)")
          .as("embedding"),
        col("label"))
    }.reduce(_ union _)
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.getOrCreate()
    // `runMain graft.ScaleProbe d12skew|c45` runs one phase (iteration aid)
    val phase = args.headOption.getOrElse("all")
    val ladder = if (phase == "all") Seq(1, 4, 16) else Seq.empty[Int]

    val results = ladder.map { k =>
      val docs = docsTimes(spark, dir, k).cache()
      val vecs = vecsTimes(spark, dir, k).cache()
      docs.count(); vecs.count() // materialize inputs outside the timings
      docs.createOrReplaceTempView("probe_documents")
      vecs.createOrReplaceTempView("probe_embeddings")

      // d4 shape over the multiplied docs: signature -> capped bands ->
      // paired candidates -> doc_id-keyed verify join (the size-adaptive one)
      val d4t = time {
        val sig = docs.selectExpr("doc_id", "word_hashes(text) AS whashes")
          .selectExpr("doc_id", "minhash16(whashes) AS sig")
        val bands = sig.select(col("doc_id"), col("sig"),
            explode(expr("sequence(0, 1)")).as("band_idx"))
          .selectExpr("doc_id", "band_idx",
            "md5(array_join(transform(slice(sig, 8*band_idx + 1, 8), x -> CAST(x AS STRING)), '-')) AS band_key")
        val sizes = bands.groupBy("band_idx", "band_key").agg(count(lit(1)).as("c"))
        val oversize = sizes.filter(col("c") > graft.operators.DedupOps.BucketCap)
        val kept = bands.join(broadcast(oversize.select("band_idx", "band_key")),
          Seq("band_idx", "band_key"), "left_anti")
        val cand = kept.as("x").join(kept.as("y"),
            col("x.band_idx") === col("y.band_idx") &&
              col("x.band_key") === col("y.band_key") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
        val sets = docs.selectExpr("doc_id", "array_sort(array_distinct(word_hashes(text))) AS ws")
          .withColumn("sz", size(col("ws")))
        cand
          .join(sets.select(col("doc_id").as("a"), col("ws").as("wsa"), col("sz").as("sza")), Seq("a"))
          .join(sets.select(col("doc_id").as("b"), col("ws").as("wsb"), col("sz").as("szb")), Seq("b"))
          .select(floor(expr("sorted_intersect_count(wsa, wsb)").cast("double")
            / (col("sza") + col("szb") - expr("sorted_intersect_count(wsa, wsb)")) * 20).as("sim_bucket"))
          .groupBy("sim_bucket").agg(count(lit(1)))
          .write.format("noop").mode("overwrite").save()
      }

      // e1 shape over multiplied embeddings: banded candidates ->
      // vec_id-keyed verify. Geometry SCALES with the corpus: planes-per-
      // band r grows by log2(k) so band-bucket populations stay bounded
      // (fixture k=1 keeps the production 2x3 key; 16x uses 2x7 = 128
      // buckets/band). With the fixed 6-bit key this stage measured 68 s at
      // 16x — quadratic in corpus size — vs near-linear with the widened key.
      // r = 3 + log2(k) holds per-bucket population ~constant (N/2^r)
      val r = 3 + (31 - Integer.numberOfLeadingZeros(k)) // 3, 5, 7 for k = 1, 4, 16
      val e1t = time {
        val sim = graft.operators.SimilarityOps
        val e = if (k == 1) sim.bucketed(vecs) else sim.bucketedWith(vecs, 2 * r)
        val cand = sim.bandCandidatePairs(e, sim.E1Bands, 2 * r)
        cand
          .join(e.selectExpr("vec_id AS a", "embedding AS aemb", "nrm AS anrm"), Seq("a"))
          .join(e.selectExpr("vec_id AS b", "embedding AS bemb", "nrm AS bnrm"), Seq("b"))
          .selectExpr("a", "b", "vec_dot(aemb, bemb) / (anrm * bnrm) AS cos")
          .filter(col("cos") >= 0.4)
          .write.format("noop").mode("overwrite").save()
      }

      // t6 shape: tf + df aggs, term-keyed join (vocabulary grows with clones)
      val t6t = time {
        val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = toks.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        val scored = tf.join(df, Seq("term")).join(broadcast(n))
          .select(col("doc_id"), col("term"),
            round(col("tf") * log(col("n").cast("double") / col("df")), 4).as("tfidf"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
        scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
          .write.format("noop").mode("overwrite").save()
      }

      // c1 shape: connected components over a k-multiplied near-dup pair
      // graph — the REAL 1x pair set cloned with disjoint id ranges, so the
      // graph grows k-fold while its diameter stays fixed. That isolates the
      // two scale axes of the iterative op: round COUNT is topology-bound
      // (log diameter, constant here) and per-round cost is linear in edges
      // — so wall time should grow sub-linearly in k (fixed per-round job
      // overhead amortizes).
      val pairs1 = graft.operators.DedupOps.simhashNearDupPairs(spark, dir).cache()
      val nPairs = pairs1.count()
      val pairsK = (0 until k).map { i =>
        pairs1.select((col("a") + lit(i.toLong * 10_000_000L)).as("a"),
          (col("b") + lit(i.toLong * 10_000_000L)).as("b"))
      }.reduce(_ union _)
      val c1t = time {
        graft.operators.ClusterOps.connectedComponents(pairsK)
          .write.format("noop").mode("overwrite").save()
      }
      pairs1.unpersist()

      // d9 shape over the multiplied docs. The df cap scales with the
      // corpus multiple: boilerplate is a RELATIVE frequency notion, so a
      // fixed absolute cap at 16x would reclassify every shared shingle as
      // boilerplate and the probe would measure an empty join.
      val d9t = time {
        graft.operators.DedupOps
          .decontaminationCensus(docs, graft.operators.DedupOps.ContamDfCap * k)
          .write.format("noop").mode("overwrite").save()
      }

      // c3 shape: k-means assignment + centroid update over multiplied
      // vectors — centroid count is fixed (k=8 broadcast rows), so both
      // Lloyd stages are linear scans; this rung verifies that holds.
      val c3t = time {
        graft.operators.ClusterOps.kmeansCensus(vecs)
          .write.format("noop").mode("overwrite").save()
      }

      // t10 shape: unigram-LM build + term-keyed scoring join — vocabulary
      // grows with clones (each adds clone tokens), split sizes grow with k.
      val t10t = time {
        graft.functions.TextOps.unigramNll(docs)
          .write.format("noop").mode("overwrite").save()
      }

      // c4 shape: cluster-then-pair semantic dedup. The cluster count
      // scales WITH the corpus (k-means k ∝ N — the SemDeDup production
      // setting), so per-cluster population and with it the within-cluster
      // pair scan stay bounded; a fixed k would grow the pair stage
      // quadratically, which is exactly what clustering-first exists to
      // prevent.
      val c4t = time {
        graft.operators.ClusterOps
          .semdedupCensus(vecs, graft.operators.ClusterOps.KMeansK * k)
          .write.format("noop").mode("overwrite").save()
      }

      // c5 shape: the same census through TWO-LEVEL assignment — scored
      // candidate pairs drop from N·k (c4's brute assignment) to
      // N·(k1 + k/k1) with k1 ~ sqrt(k); the rung measures how much of
      // c4's superlinear growth the hierarchy removes.
      val kTot = graft.operators.ClusterOps.KMeansK * k
      val k1 = math.max(2, math.ceil(math.sqrt(kTot.toDouble)).toInt)
      val c5t = time {
        graft.operators.ClusterOps
          .semdedupCensusFrom(
            graft.operators.ClusterOps.kmeansAssignHier(vecs, kTot, k1), vecs)
          .write.format("noop").mode("overwrite").save()
      }

      // t12 shape: frequent-span scrub over the multiplied docs. The df
      // floor scales with the corpus multiple (relative-frequency notion,
      // same reasoning as d9's cap above): cloned docs multiply every
      // span's df by k, so a fixed floor would reclassify the whole corpus
      // as boilerplate and measure a degenerate join.
      val t12t = time {
        graft.functions.TextOps
          .boilerplateScrub(docs, graft.functions.TextOps.BoilerDf * k)
          .write.format("noop").mode("overwrite").save()
      }

      docs.unpersist(); vecs.unpersist()
      System.gc()
      val steps = Seq("d4" -> d4t, "e1" -> e1t, "t6" -> t6t, "c1" -> c1t,
        "d9" -> d9t, "c3" -> c3t, "t10" -> t10t, "c4" -> c4t, "c5" -> c5t,
        "t12" -> t12t)
      System.err.println(
        f"[scale] ${k}%2dx  " +
          steps.map { case (n, t) => f"$n=$t%6.2f s" }.mkString("  ") +
          s" (${nPairs * k} edges)")
      k -> steps
    }

    // d12 skew rung: a planted mega-duplicate cluster (c near-identical
    // docs sharing a 60-token base, two unique tokens each → pairwise
    // J ≈ 0.94) drives even the cluster's rarest SHARED shingle to df = c,
    // so capless prefix candidates grow as C(c,2) — the named worst case.
    // With the df cap, those frequent prefix entries are skipped and the
    // candidate count stays flat in c (the cluster's own pairs are the
    // documented recall trade; exact dedup (d1/d2) upstream collapses such
    // clusters before this operator in a real pipeline).
    val d12Skew = (if (phase == "all" || phase == "d12skew")
      Seq(250, 500, 1000) else Seq.empty[Int]).map { c =>
      val docs = graft.core.Tables.load(spark, dir, "documents").select("doc_id", "text")
      val cluster = spark.range(c).selectExpr(
        "20000000 + id AS doc_id",
        "concat(concat_ws(' ', transform(sequence(1, 60), i -> concat('btok', CAST(i AS STRING)))), " +
          "' uq', CAST(id AS STRING), 'a uq', CAST(id AS STRING), 'b') AS text")
      val all = docs.union(cluster).cache()
      all.count()
      val candOff = graft.operators.DedupOps.prefixCandidates(all).count()
      val tOff = time {
        graft.operators.DedupOps.prefixFilterJoin(all)
          .write.format("noop").mode("overwrite").save()
      }
      val candOn = graft.operators.DedupOps.prefixCandidates(all, Some(64L)).count()
      val tOn = time {
        graft.operators.DedupOps.prefixFilterJoin(all, Some(64L))
          .write.format("noop").mode("overwrite").save()
      }
      all.unpersist()
      System.gc()
      System.err.println(f"[scale] d12skew c=$c%4d  off: $candOff%9d cand $tOff%6.2f s" +
        f"   on(cap=64): $candOn%7d cand $tOn%6.2f s")
      c -> Seq("cand_off" -> candOff.toDouble, "t_off" -> tOff,
        "cand_on" -> candOn.toDouble, "t_on" -> tOn)
    }

    // d13 boilerplate rung: plant c documents sharing one ~190-char licence
    // header (unique tails) — every winnowed fingerprint of the header gets
    // df = c, so the CAPLESS fingerprint join fans out ~|header fps| × C(c,2)
    // pair slots, the quadratic-bucket worst case. With the df cap those
    // fingerprints drop before pairing and the candidate count stays flat at
    // the organic corpus's own pair volume (the planted cluster's overlap is
    // the documented recall trade — boilerplate is exactly what the cap is
    // FOR). Candidate counts are computed exactly from the df census
    // (Σ C(df, 2)); wall time is printed alongside but the counts are the
    // contention-proof signal.
    val boilerHeader = "permission is hereby granted free of charge to any " +
      "person obtaining a copy of this software and associated documentation " +
      "files to deal in the software without restriction including the rights " +
      "to use copy modify and merge"
    val d13Boiler = (if (phase == "all" || phase == "d13boiler")
      Seq(250, 500, 1000) else Seq.empty[Int]).map { c =>
      val docs = graft.core.Tables.load(spark, dir, "documents").select("doc_id", "text")
      val planted = spark.range(c).selectExpr(
        "30000000 + id AS doc_id",
        s"concat('$boilerHeader', ' uq', CAST(id AS STRING), 'a uq', CAST(id AS STRING), 'b') AS text")
      val all = docs.union(planted).cache()
      all.count()
      def candPairs(cap: Option[Long]): Long = {
        val dfs = graft.operators.DedupOps.winnowFps(all)
          .groupBy("fp").agg(count(lit(1)).as("df"))
        cap.fold(dfs)(cp => dfs.filter(col("df") <= cp))
          .agg(coalesce(sum(expr("df * (df - 1) DIV 2")), lit(0L)))
          .collect().head.getLong(0)
      }
      val candOff = candPairs(None)
      val tOff = time {
        graft.operators.DedupOps.winnowOverlapJoin(all, None)
          .write.format("noop").mode("overwrite").save()
      }
      val candOn = candPairs(Some(graft.operators.DedupOps.WinnowDfCap))
      val tOn = time {
        graft.operators.DedupOps.winnowOverlapJoin(all)
          .write.format("noop").mode("overwrite").save()
      }
      all.unpersist()
      System.gc()
      System.err.println(f"[scale] d13boiler c=$c%4d  off: $candOff%10d cand $tOff%6.2f s" +
        f"   on(cap=${graft.operators.DedupOps.WinnowDfCap}): $candOn%8d cand $tOn%6.2f s")
      c -> Seq("cand_off" -> candOff.toDouble, "t_off" -> tOff,
        "cand_on" -> candOn.toDouble, "t_on" -> tOn)
    }

    // c4-vs-c5 widening rung: k-means k scales WITH the corpus (k ∝ N, the
    // SemDeDup production setting), so brute assignment costs N·k ∝ N²
    // while the two-level hierarchy costs N·(k1 + 2k/k1) ∝ N^1.5 with
    // k1 = ceil(sqrt(k)). The 16x point overlaps the main ladder for
    // continuity; 64x is where the gap should visibly widen. Scored
    // candidate-pair counts (distance evaluations) are printed alongside
    // wall time because time on this host carries up to 10x contention
    // noise while the pair counts are exact.
    def c45Rung(k: Int, widen: Int): (String, Seq[(String, Double)]) = {
      val base = vecsTimes(spark, dir, k)
      // widen > 1 tiles each 64-float embedding into a 64*widen-dim vector
      // (flatten preserves the float element type; geometry — and therefore
      // cluster populations and the verify-pair count — is identical to the
      // 64-dim rung, only the per-distance FLOP cost grows widen-fold)
      val vecs = (if (widen == 1) base
        else base.select(col("vec_id"),
          expr(s"flatten(array_repeat(embedding, $widen))").as("embedding"),
          col("label"))).cache()
      val n = vecs.count()
      val kTot = graft.operators.ClusterOps.KMeansK * k
      val k1 = math.max(2, math.ceil(math.sqrt(kTot.toDouble)).toInt)
      val pairsC4 = n * kTot
      val pairsC5 = n * (k1 + 2L * kTot / k1)
      val c4t = time {
        graft.operators.ClusterOps.semdedupCensus(vecs, kTot)
          .write.format("noop").mode("overwrite").save()
      }
      val c5t = time {
        graft.operators.ClusterOps
          .semdedupCensusFrom(
            graft.operators.ClusterOps.kmeansAssignHier(vecs, kTot, k1), vecs)
          .write.format("noop").mode("overwrite").save()
      }
      vecs.unpersist()
      System.gc()
      val tag = if (widen == 1) s"c45_${k}x" else s"c45hd_${k}x_${64 * widen}d"
      System.err.println(f"[scale] $tag%-16s (k=$kTot, k1=$k1)  " +
        f"c4: $pairsC4%11d pairs $c4t%7.2f s   c5: $pairsC5%10d pairs $c5t%7.2f s")
      tag -> Seq("c4_pairs" -> pairsC4.toDouble, "c4_t" -> c4t,
        "c5_pairs" -> pairsC5.toDouble, "c5_t" -> c5t)
    }
    val c45 = (if (phase == "all" || phase == "c45")
      Seq(16, 64) else Seq.empty[Int]).map(k => c45Rung(k, 1)) ++
      // the 64-dim rungs prove the N^1.5 work reduction in exact pair
      // counts but wall-tie because per-distance cost is small next to the
      // row machinery and the shared verify stage; at 512 dims the same
      // pair-count gap is FLOP-dominated and must show on the clock
      (if (phase == "all" || phase == "c45hd")
        Seq(64) else Seq.empty[Int]).map(k => c45Rung(k, 8))

    // e7 shape: BM25 over a k-multiplied corpus with a FIXED query set (the
    // doc_id < 3 queries live only in clone 0) — the inverted-index build
    // (tf/df/dl aggs) is the corpus-linear stage; scoring is bounded by the
    // query terms' postings. Wall time must grow ~linearly in k: nothing in
    // the plan ever pairs corpus x corpus, and the query count stays
    // constant while the corpus multiplies — the amortization a lake
    // banks on when it serves many queries from one materialized index.
    val bm25R = (if (phase == "all" || phase == "bm25") Seq(1, 4, 16)
      else Seq.empty[Int]).map { k =>
      val docs = docsTimes(spark, dir, k).cache()
      val nDocs = docs.count()
      val t = time {
        graft.operators.SimilarityOps.bm25Retrieve(docs)
          .write.format("noop").mode("overwrite").save()
      }
      docs.unpersist()
      System.err.println(f"[scale] bm25 $k%2dx  docs=$nDocs%8d  $t%6.2f s")
      (k, t)
    }

    // t15 BPE-loop rung: bpeTrain's per-round work is VOCABULARY-keyed
    // (pair counts over distinct words), so multiplying the corpus k-fold
    // must grow a fixed-round train far slower than k — the corpus is
    // touched once (initial word count); every round after shuffles only
    // vocab-sized relations. Clone suffix tokens add k-1 words per distinct
    // word-position, so the vocab grows ~2x (not 16x) at 16x corpus —
    // measured wall should track vocab, not corpus.
    val bpeR = (if (phase == "all" || phase == "bpe") Seq(1, 4, 16)
      else Seq.empty[Int]).map { k =>
      val docs = docsTimes(spark, dir, k).cache()
      val nDocs = docs.count()
      val t = time {
        val vocab = docs
          .select(explode(split(lower(col("text")), " ")).as("w"))
          .filter(col("w").rlike("^[a-z]+$") && length(col("w")) <= 20)
          .groupBy(col("w")).agg(count(lit(1)).as("freq"))
          .select(expr("trim(regexp_replace(w, '(.)', '<$1> '))").as("syms"), col("freq"))
        graft.functions.TextOps.bpeTrain(spark, vocab, maxRounds = 5, minPairCount = 2L)
          .write.format("noop").mode("overwrite").save()
      }
      docs.unpersist()
      System.err.println(f"[scale] bpe $k%2dx  docs=$nDocs%8d  $t%6.2f s (5 rounds)")
      (k, t)
    }

    // mmr k-ladder: mmrRerank over a FIXED depth-24 candidate pool at
    // k = 5/10/20 — prices the O(q·k²) claim (SimilarityOps.mmrRerank
    // scaladoc) in isolation from candidate generation. Two cost terms:
    // per-round fixed driver/DAG overhead (linear in k — each round is two
    // jobs over a <=q*24-row frontier) and the rem x selected scoring join
    // (quadratic in k). At fixture pool sizes the fixed term dominates, so
    // measured growth should be ~LINEAR in k, bounding the claimed
    // quadratic from below; the quadratic term only surfaces at pool
    // sizes x query counts where q*k² rows outweigh per-job overhead.
    val mmrR = {
      val ks = if (phase == "all" || phase == "mmr") Seq(5, 10, 20) else Seq.empty[Int]
      if (ks.isEmpty) Seq.empty[(Int, Double)]
      else {
        val pool = graft.operators.SimilarityOps.mmrCandidatePool(spark, dir, 24)
          .cache()
        pool.count()
        // untimed warmup: JIT + codegen compile the whole round pipeline
        // once, so first-rung bias can't masquerade as k-scaling
        graft.operators.SimilarityOps.mmrRerank(pool, 3)
          .write.format("noop").mode("overwrite").save()
        val out = ks.map { k =>
          def once = time {
            graft.operators.SimilarityOps.mmrRerank(pool, k)
              .write.format("noop").mode("overwrite").save()
          }
          val t = math.min(once, once) // best of 2: driver-launched rounds
          System.gc()                  // are contention-sensitive on this box
          System.err.println(f"[scale] mmr k=$k%2d  $t%6.2f s (fixed 24-deep pool)")
          (k, t)
        }
        pool.unpersist()
        out
      }
    }

    // ivfpq corpus ladder: the e9 pipeline (coarse k-means + residual PQ
    // train + encode + 2-probe ADC retrieval) over 1x/4x/16x embeddings
    // with the query set FIXED (vec_id < 3 lives in clone 0). Every stage
    // is corpus-LINEAR — centroid/codebook training and encoding are
    // scored broadcast joins against k-bounded relations, and the scan
    // touches probes/k of the code rows — so wall should grow ~linearly
    // in k, never quadratically. (In production the build runs once and
    // amortizes over every query; this rung prices the build.)
    val ivfpqR = (if (phase == "all" || phase == "ivfpq") Seq(1, 4, 16)
      else Seq.empty[Int]).map { k =>
      val vecs = vecsTimes(spark, dir, k).cache()
      val n = vecs.count()
      val t = time {
        graft.operators.SimilarityOps.ivfpqRetrieve(vecs)
          .write.format("noop").mode("overwrite").save()
      }
      vecs.unpersist()
      System.gc()
      System.err.println(f"[scale] ivfpq $k%2dx  vecs=$n%8d  $t%6.2f s")
      (k, t)
    }

    // ivfpq probes ladder: the nprobe dial every IVF deployment tunes —
    // build the index ONCE over the fixture corpus, then sweep
    // probes = 1/2/4/8 measuring recall@5 (vs brute-force exact squared-L2
    // top-5) against the scored-candidate count (the cost denominator: a
    // probe touches one cell's code rows). Recall must be monotone
    // non-decreasing in probes while cost stays cell-bounded (~probes/k of
    // the corpus) — the curve that justifies shipping probes=2 as the
    // default and turning the dial up only for recall-critical queries.
    val ivfpqProbesR = {
      val ps = if (phase == "all" || phase == "ivfpqprobes") Seq(1, 2, 4, 8)
        else Seq.empty[Int]
      if (ps.isEmpty) Seq.empty[(Int, (Double, Double, Long, Double))]
      else {
        val sim = graft.operators.SimilarityOps
        val vecs = graft.core.Tables.load(spark, dir, "embeddings").cache()
        val n = vecs.count()
        val idx0 = sim.ivfpqBuild(vecs)
        val codes = idx0.codes.cache()
        val nCodes = codes.count()
        val idx = idx0.copy(codes = codes)
        val q = vecs.filter(col("vec_id") < 3)
        // exact ground truth: brute-force squared-L2 top-5 per query over
        // the raw vectors (3 queries x corpus — fine at probe scale; this
        // is the oracle the index approximates, not a production path)
        val wx = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
        val exact: Map[Long, Set[Long]] = q
          .selectExpr("vec_id AS qid", "embedding AS qemb",
            "vec_dot(embedding, embedding) AS qsq")
          .crossJoin(vecs.selectExpr("vec_id", "embedding AS emb",
            "vec_dot(embedding, embedding) AS sq"))
          .filter(col("vec_id") =!= col("qid"))
          .selectExpr("qid", "vec_id", "qsq + sq - 2 * vec_dot(qemb, emb) AS dist")
          .withColumn("rnk", row_number().over(wx))
          .filter(col("rnk") <= sim.PqTopK)
          .collect().groupBy(_.getAs[Long]("qid"))
          .map { case (k, rs) => k -> rs.map(_.getAs[Long]("vec_id")).toSet }
        def meanOverlap(got: Map[Long, Set[Long]]): Double =
          exact.map { case (k, want) =>
            got.getOrElse(k, Set.empty).count(want).toDouble / want.size
          }.sum / exact.size
        val out = ps.map { p =>
          val got = sim.ivfpqScan(q, idx, p).collect()
            .groupBy(_.getAs[Long]("qid"))
            .map { case (k, rs) => k -> rs.map(_.getAs[Long]("doc_id")).toSet }
          val recall = meanOverlap(got)
          // every (qid, vec_id) the ADC fold touched: its count is the
          // probe cost, its exact-top-5 overlap is cell COVERAGE — recall
          // with PQ distortion factored out (what an exact re-rank over
          // the probed cells would achieve)
          val candRows = sim.ivfpqScan(q, idx, p, Int.MaxValue)
            .select("qid", "doc_id").collect()
          val cand = candRows.length.toLong
          val coverage = meanOverlap(candRows.groupBy(_.getAs[Long]("qid"))
            .map { case (k, rs) => k -> rs.map(_.getAs[Long]("doc_id")).toSet })
          val t = time {
            sim.ivfpqScan(q, idx, p).write.format("noop").mode("overwrite").save()
          }
          System.err.println(
            f"[scale] ivfpqprobes p=$p%d  recall@5=$recall%.3f  coverage@5=$coverage%.3f  cand=$cand%6d  scan=$t%6.2f s (corpus=$n, codes=$nCodes)")
          (p, (recall, coverage, cand, t))
        }
        codes.unpersist(); vecs.unpersist()
        out
      }
    }

    // ivfpq scan-only rung: the number that matters at 100 TB — per-query
    // latency against a MATERIALIZED index (parquet-persisted cells,
    // codebooks, codes; the bench's e9 row conflates this with the
    // one-time build). Build once, persist, read back, then time the
    // 2-probe scan warm (best of 2 after an untimed warmup).
    val ivfpqScanR = (if (phase == "all" || phase == "ivfpqscan") Seq(1)
      else Seq.empty[Int]).map { _ =>
      val sim = graft.operators.SimilarityOps
      val vecs = graft.core.Tables.load(spark, dir, "embeddings").cache()
      vecs.count()
      val matDir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
      val tBuild = time {
        val idx = sim.ivfpqBuild(vecs)
        idx.cents.write.mode("overwrite").parquet(s"$matDir/cents")
        idx.cb.write.mode("overwrite").parquet(s"$matDir/cb")
        // partitioned by cell: a probe prunes to its cells' files — the
        // layout a 100 TB deployment relies on
        idx.codes.write.mode("overwrite").partitionBy("cell")
          .parquet(s"$matDir/codes")
      }
      val idx = sim.IvfPqIndex(
        spark.read.parquet(s"$matDir/cents"),
        spark.read.parquet(s"$matDir/cb"),
        spark.read.parquet(s"$matDir/codes"))
      val q = vecs.filter(col("vec_id") < 3)
      sim.ivfpqScan(q, idx).write.format("noop").mode("overwrite").save() // warmup
      def once = time {
        sim.ivfpqScan(q, idx).write.format("noop").mode("overwrite").save()
      }
      val tScan = math.min(once, once)
      vecs.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(matDir))
      System.err.println(f"[scale] ivfpqscan build=$tBuild%6.2f s  scan=$tScan%6.2f s (2-probe, materialized index)")
      ("ivfpqscan", Seq(("build", tBuild), ("scan", tScan)))
    }

    // ivfpq ingest rung: e11's scale claim — encoding an ARRIVING batch
    // against an EXISTING index costs ∝ |batch|, not corpus (assignment
    // and encode are scored broadcast joins against the k-bounded
    // centroids/codebooks; the corpus codes are never read). Build the
    // index per corpus size (untimed here; the ivfpq rung prices builds),
    // then time ivfpqIngest of the SAME fixed-size batch against 1x/4x/16x
    // corpora — flat wall across the ladder is the corpus-independence.
    val ivfpqIngestR = (if (phase == "all" || phase == "ivfpqingest") Seq(1, 4, 16)
      else Seq.empty[Int]).map { k =>
      val sim = graft.operators.SimilarityOps
      val vecs = vecsTimes(spark, dir, k).cache()
      val n = vecs.count()
      val idx = sim.ivfpqBuild(vecs) // cents/cb eagerly localCheckpoint'ed
      // fixed arriving batch: the base fixture under fresh ids
      val batch = graft.core.Tables.load(spark, dir, "embeddings")
        .select((col("vec_id") + lit(900_000_000L)).as("vec_id"), col("embedding"))
        .cache()
      val nBatch = batch.count()
      sim.ivfpqIngest(batch, idx).write.format("noop").mode("overwrite").save() // warmup
      def once = time {
        sim.ivfpqIngest(batch, idx).write.format("noop").mode("overwrite").save()
      }
      val t = math.min(once, once)
      vecs.unpersist(); batch.unpersist()
      System.gc()
      System.err.println(
        f"[scale] ivfpqingest $k%2dx  corpus=$n%8d  batch=$nBatch%6d  ingest=$t%6.2f s")
      (k, t)
    }

    // ivfpq tombstone-mask rung: e12's scale claim — serving a churned
    // index (ver-0 codes anti-joined against the broadcast tombstone set)
    // costs the SAME as serving a clean one, for any bounded churn
    // fraction: the mask is a broadcast hash anti-join evaluated during
    // the code scan, never a shuffle or a second pass. One build, then
    // scan latency at 0% / 2% / 20% masked ids — flat across the ladder
    // is the claim (churn beyond ~20% between compactions means the
    // compaction cadence, not the read path, is misconfigured).
    val ivfpqMaskR = (if (phase == "all" || phase == "ivfpqmask") Seq(1)
      else Seq.empty[Int]).flatMap { _ =>
      val sim = graft.operators.SimilarityOps
      val vecs = graft.core.Tables.load(spark, dir, "embeddings").cache()
      vecs.count()
      val idx = sim.ivfpqBuild(vecs)
      // pin the codes so every ladder step scans the same materialized
      // relation and the timing isolates the mask, not the build lineage
      val codes = idx.codes.localCheckpoint()
      codes.count()
      val q = vecs.filter(col("vec_id") < 3)
      val out = Seq(0, 50, 5).map { mmod => // modulus: none, 1-in-50, 1-in-5
        val served = if (mmod == 0) codes
          else codes.join(
            org.apache.spark.sql.functions.broadcast(
              vecs.filter(col("vec_id") % mmod === 0).select("vec_id")),
            Seq("vec_id"), "left_anti")
        val sIdx = sim.IvfPqIndex(idx.cents, idx.cb, served)
        sim.ivfpqScan(q, sIdx).write.format("noop").mode("overwrite").save() // warmup
        def once = time {
          sim.ivfpqScan(q, sIdx).write.format("noop").mode("overwrite").save()
        }
        val t = math.min(once, once)
        val pct = if (mmod == 0) 0 else 100 / mmod
        System.err.println(f"[scale] ivfpqmask $pct%2d%% churn  scan=$t%6.2f s")
        (pct, t)
      }
      vecs.unpersist()
      graft.core.Checkpoints.release(codes)
      out
    }

    // filtered-ANN rung: e15's broadcast-mask semi join vs e16's
    // encode-time predicate denormalization, priced on the ladder with
    // recall@5 PINNED — the two shapes contractually return IDENTICAL
    // rows (e16's scaladoc), so the rung asserts bit-equal results and
    // reports the recall both achieve against exact ground truth over the
    // ALLOWED corpus. What diverges with scale is cost: e15 re-derives
    // and broadcasts the allowed-id set per query batch (and at real N
    // that set stops fitting a broadcast at all), e16 paid once at encode
    // time and its query-time mask is a pushed-down data filter on the
    // stored codes scan.
    val filteredAnnR = (if (phase == "all" || phase == "filteredann") Seq(1, 4, 16)
      else Seq.empty[Int]).map { k =>
      val sim = graft.operators.SimilarityOps
      val vecs = vecsTimes(spark, dir, k).cache()
      val n = vecs.count()
      val q = vecs.filter(col("vec_id") < 3)
      val allowed = vecs.filter(col("label") < 4)
      val idx = sim.ivfpqBuild(vecs)
      val codes = idx.codes.localCheckpoint(); codes.count()
      val pinned = sim.IvfPqIndex(idx.cents, idx.cb, codes)
      val base = java.nio.file.Files.createTempDirectory("graft-filteredann")
      val codesDir = base.resolve("codes").toString
      codes.join(vecs.select("vec_id", "label"), Seq("vec_id"))
        .write.partitionBy("cell").parquet(codesDir)
      val stored = spark.read.parquet(codesDir)
        .select(col("vec_id"), col("s"), col("code"),
          col("cell").cast("long").as("cell"), col("label"))
      def e15Scan() = sim.ivfpqFilteredScan(q, pinned, allowed)
      def e16Scan() = sim.ivfpqScan(q,
        sim.IvfPqIndex(idx.cents, idx.cb, stored.filter(col("label") < 4)))
      def once(f: () => DataFrame) = time {
        f().write.format("noop").mode("overwrite").save()
      }
      once(e15Scan); once(e16Scan) // warmup
      val t15 = math.min(once(e15Scan), once(e15Scan))
      val t16 = math.min(once(e16Scan), once(e16Scan))
      // the contract: identical rows from both shapes
      val got15 = e15Scan().collect().map(_.toSeq).toSet
      require(got15 == e16Scan().collect().map(_.toSeq).toSet,
        s"e15/e16 diverged at ${k}x — the denormalized mask is not the mask")
      // recall@5 against exact L2 ground truth over the ALLOWED corpus
      val wx = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
      val want = q.selectExpr("vec_id AS qid", "embedding AS qemb",
          "vec_dot(embedding, embedding) AS qsq")
        .crossJoin(allowed.selectExpr("vec_id", "embedding AS emb",
          "vec_dot(embedding, embedding) AS sq"))
        .filter(col("vec_id") =!= col("qid"))
        .selectExpr("qid", "vec_id", "qsq + sq - 2 * vec_dot(qemb, emb) AS dist")
        .withColumn("rnk", row_number().over(wx))
        .filter(col("rnk") <= sim.PqTopK)
        .collect().groupBy(_.getAs[Long]("qid"))
        .map { case (g, rs) => g -> rs.map(_.getAs[Long]("vec_id")).toSet }
      val got = got15.toSeq.groupBy(_.head.asInstanceOf[Long])
        .map { case (g, rs) => g -> rs.map(_(2).asInstanceOf[Long]).toSet }
      val recall = want.map { case (g, w) =>
        got.getOrElse(g, Set.empty).count(w).toDouble / w.size
      }.sum / want.size
      vecs.unpersist()
      graft.core.Checkpoints.release(codes)
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      System.gc()
      System.err.println(f"[scale] filteredann $k%2dx  vecs=$n%7d  " +
        f"e15(mask)=$t15%6.2f s  e16(denorm)=$t16%6.2f s  recall5=$recall%.3f")
      (k, Seq[(String, Double)]("e15_mask" -> t15, "e16_denorm" -> t16,
        "recall5" -> recall))
    }

    // ivfpq quantizer-drift rung: the rebuild-trigger question e11/e13
    // leave open — e11 pins that frozen-quantizer ingest is CHEAP and e13
    // that rebuild+swap is SAFE, but nothing says WHEN a rebuild pays.
    // This rung measures it: quantizers are trained on the first 25% of
    // the corpus (vec_id % 4 == 0), then two ingest waves arrive from a
    // progressively SHIFTED distribution (unit vectors pulled toward a
    // fixed direction and renormalized — the covariate-shift shape of
    // real embedding streams, where fresh content drifts away from the
    // training snapshot). At each ingested fraction (25/50/100%) the rung
    // scores recall@5 for queries drawn from the NEWEST wave (fresh
    // queries resemble fresh data) against exact ground truth over the
    // current corpus, twice: serving frozen-v1 codes (e11's path) vs a
    // fresh rebuild at the same corpus (e13's path). The gap curve is the
    // operator's rebuild trigger: rebuild when measured
    // recall(frozen) − recall(rebuilt) exceeds the SLO margin — a policy
    // keyed to MEASURED decay, not ingest fraction (the same rung run on
    // a stationary stream shows a flat gap, correctly telling the
    // operator never to rebuild).
    val ivfpqDriftR = (if (phase == "all" || phase == "ivfpqdrift") Seq(25, 50, 100)
      else Seq.empty[Int]) match {
      case Seq() => Seq.empty[(Int, (Double, Double, Long))]
      case pcts =>
        val sim = graft.operators.SimilarityOps
        val raw = graft.core.Tables.load(spark, dir, "embeddings")
          .select("vec_id", "embedding")
        // wave w shifted by w * 1.0 along u = ones/8 (unit), renormalized
        def shifted(wave: DataFrame, delta: Double): DataFrame = wave
          .selectExpr("vec_id",
            s"transform(embedding, x -> CAST(x + ${delta} * 0.125D AS FLOAT)) AS e1")
          .selectExpr("vec_id", "e1", "CAST(sqrt(vec_dot(e1, e1)) AS DOUBLE) AS nrm")
          .selectExpr("vec_id",
            "transform(e1, x -> CAST(x / nrm AS FLOAT)) AS embedding")
        val base = raw.filter(col("vec_id") % 4 === 0).cache()
        val wave1 = shifted(raw.filter(col("vec_id") % 4 === 1), 1.0).cache()
        val wave2 = shifted(raw.filter(col("vec_id") % 4 >= 2), 2.0).cache()
        base.count(); wave1.count(); wave2.count()
        val idx1 = sim.ivfpqBuild(base) // the FROZEN v1 quantizers
        val frozenBase = idx1.codes.localCheckpoint(); frozenBase.count()

        def recallAt(corpus: DataFrame, queries: DataFrame, idx: sim.IvfPqIndex): Double = {
          val wx = org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
          val exact: Map[Long, Set[Long]] = queries
            .selectExpr("vec_id AS qid", "embedding AS qemb",
              "vec_dot(embedding, embedding) AS qsq")
            .crossJoin(corpus.selectExpr("vec_id", "embedding AS emb",
              "vec_dot(embedding, embedding) AS sq"))
            .filter(col("vec_id") =!= col("qid"))
            .selectExpr("qid", "vec_id", "qsq + sq - 2 * vec_dot(qemb, emb) AS dist")
            .withColumn("rnk", row_number().over(wx))
            .filter(col("rnk") <= sim.PqTopK)
            .collect().groupBy(_.getAs[Long]("qid"))
            .map { case (g, rs) => g -> rs.map(_.getAs[Long]("vec_id")).toSet }
          val got = sim.ivfpqScan(queries, idx).collect()
            .groupBy(_.getAs[Long]("qid"))
            .map { case (g, rs) => g -> rs.map(_.getAs[Long]("doc_id")).toSet }
          exact.map { case (g, want) =>
            got.getOrElse(g, Set.empty).count(want).toDouble / want.size
          }.sum / exact.size
        }
        val out = pcts.map { pct =>
          val (corpus, newest) = pct match {
            case 25  => (base, base)
            case 50  => (base.unionByName(wave1), wave1)
            case _   => (base.unionByName(wave1).unionByName(wave2), wave2)
          }
          val n = corpus.count()
          // 3 fresh queries: the newest wave's lowest ids
          val qids = newest.select("vec_id").orderBy(col("vec_id")).limit(3)
            .collect().map(_.getLong(0))
          val queries = corpus.filter(col("vec_id").isin(qids: _*))
          val frozenCodes = pct match {
            case 25 => frozenBase
            case 50 => frozenBase.unionByName(sim.ivfpqIngest(wave1, idx1))
            case _  => frozenBase.unionByName(sim.ivfpqIngest(wave1, idx1))
              .unionByName(sim.ivfpqIngest(wave2, idx1))
          }
          val rFrozen = recallAt(corpus, queries, idx1.copy(codes = frozenCodes))
          val rRebuilt =
            if (pct == 25) rFrozen // same index by construction
            else recallAt(corpus, queries, sim.ivfpqBuild(corpus))
          System.err.println(
            f"[scale] ivfpqdrift $pct%3d%% ingested  corpus=$n%6d  " +
              f"recall5(frozen)=$rFrozen%.3f  recall5(rebuilt)=$rRebuilt%.3f  " +
              f"gap=${rRebuilt - rFrozen}%+.3f")
          (pct, (rFrozen, rRebuilt, n))
        }
        base.unpersist(); wave1.unpersist(); wave2.unpersist()
        graft.core.Checkpoints.release(frozenBase)
        out
    }

    // knn-join rung: s4's candidate-cost law on the CLUSTERED ladder
    // (vecsTimes copies are near-duplicates — every dedup corpus is one),
    // measured against the round-15 failure geometry it replaced:
    //   1. the timed join is the REAL operator — PQ codes through the
    //      cell shuffle (SDC), two-level assignment (bounded super
    //      broadcast), hot cells salted to <= KnnJoinCellCap members per
    //      shard. Raw 64-float vectors re-attach only for the per-query
    //      shortlist, keyed by vec_id (round 15 shipped ~13 GB of raw
    //      vectors through the cell shuffle at 16x; codes are ~32x
    //      lighter, and the analytic shuffle-weight contrast rides the
    //      output).
    //   2. candidate law from the REAL two-level SDC assignment: total
    //      stays ~2 probes x cell population; skew (max/mean cell) says
    //      how clustered the corpus is; block_raw = max |P_c|x|M_c| is
    //      the reducer block WITHOUT salting, block_salted = max
    //      |P_c|x min(|M_c|, cap) the bound WITH it — the rung's pass
    //      criterion is block_salted holding while block_raw blows up
    //      with the 16x skew.
    //   3. the FIXED cell count contrast (50 cells at every rung, flat
    //      centroid broadcast) is no longer run: its candidate total went
    //      quadratic in N (162k / 2.6M / 42.3M at 1x / 4x / 16x,
    //      BENCH_NOTES round 15) — the geometry that must not ship.
    val knnJoinR = (if (phase == "all" || phase == "knnjoin") Seq(1, 4, 16)
      else Seq.empty[Int]).map { k =>
      val sim = graft.operators.SimilarityOps
      val vecs = vecsTimes(spark, dir, k).cache()
      val n = vecs.count()
      val t = time {
        sim.knnJoin(vecs).write.format("noop").mode("overwrite").save()
      }
      val e = vecs.selectExpr("vec_id", "embedding",
        "sqrt(vec_dot(embedding, embedding)) AS nrm").cache()
      // census of the REAL assignment (two-level SDC, codes-only)
      val embsOnly = vecs.select(col("vec_id"), col("embedding"))
      val cbK = sim.pqCodebooks(embsOnly).localCheckpoint()
      val ranked = sim.knnJoinAssign(e, sim.packedCodes(embsOnly, cbK),
        sim.sdcPairTable(cbK))
      val m = ranked.filter(col("rn") === 1).groupBy("cid")
        .agg(count(lit(1)).as("mc"))
      val p = ranked.filter(col("rn") <= 2).groupBy("cid")
        .agg(count(lit(1)).as("pc"))
      val cap = sim.KnnJoinCellCap
      val r = m.join(p, "cid").agg(
        sum(col("mc") * col("pc")), max(col("mc")), avg(col("mc")),
        max(col("mc") * col("pc")),
        max(least(col("mc"), lit(cap)) * col("pc"))).head
      val (candStride, maxCell, meanCell) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (blockRaw, blockSalted) = (r.getLong(3), r.getLong(4))
      // analytic shuffle weight of the candidate join's corpus-sized rows:
      // codes row ~ (8B id + 8B norm + 8x4B codes) vs raw ~ 64x4B vector
      val codesMB = candStride * 48.0 / (1 << 20)
      val rawMB = candStride * 528.0 / (1 << 20)
      graft.core.Checkpoints.release(cbK)
      e.unpersist(); vecs.unpersist()
      System.gc()
      System.err.println(f"[scale] knnjoin $k%2dx  vecs=$n%7d  $t%6.2f s  " +
        f"cand(stride)=$candStride%10d  " +
        f"cellskew=${maxCell / meanCell}%5.1f  blockraw=$blockRaw%9d  " +
        f"blocksalted=$blockSalted%9d  shuffle codes=$codesMB%.1f MB vs raw=$rawMB%.1f MB")
      (k, Seq[(String, Double)](
        "join" -> t, "cand_stride" -> candStride.toDouble,
        "cell_skew" -> maxCell / meanCell,
        "block_raw" -> blockRaw.toDouble,
        "block_salted" -> blockSalted.toDouble,
        "shuffle_codes_mb" -> codesMB, "shuffle_raw_mb" -> rawMB))
    }

    // lake sweep rung: LakeSink's dirty-set claim — a scoped compaction
    // sweep costs O(|dirty leaves|), independent of how many partitions
    // the TABLE has. One 30-leaf lake (the events fixture per day, each
    // leaf fragmented by 3 appends), then a sweep scoped to 2 / 8 / 30
    // names — wall must grow with the scope, not the table.
    val lakeSweepR = (if (phase == "all" || phase == "lakesweep") Seq(1)
      else Seq.empty[Int]).flatMap { _ =>
      val sink = graft.streaming.LakeSink
      val base = java.nio.file.Files.createTempDirectory("graft-lakesweep")
      val lake = base.resolve("lake").toString
      val ev = graft.core.Tables.load(spark, dir, "events")
      (0 until 3).foreach { i =>
        ev.filter(pmod(col("event_id"), lit(3)) === i)
          .withColumn("event_date", to_date(col("ts")))
          .write.partitionBy("event_date").mode("append").parquet(lake)
      }
      val allLeaves = ev.select(to_date(col("ts")).as("d")).distinct()
        .collect().map(r => s"event_date=${r.get(0)}").sorted
      val out = Seq(2, 8, allLeaves.length).map { k =>
        // fragment the target leaves again so every ladder step has work
        val names = allLeaves.take(k).toSet
        ev.filter(to_date(col("ts")).isin(
            names.toSeq.map(_.stripPrefix("event_date=")): _*))
          .withColumn("event_date", to_date(col("ts")))
          .write.partitionBy("event_date").mode("append").parquet(lake)
        val t = time {
          val done = sink.compactPartitions(spark, lake, 1L << 30, minFiles = 2,
            only = Some(names))
          require(done.size == k, s"sweep rewrote ${done.size} of $k")
        }
        System.err.println(f"[scale] lakesweep k=$k%2d leaves  sweep=$t%6.2f s")
        (k, t)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      out
    }

    // merge rung: f12's scale claim — MERGE cost is O(touched partitions +
    // churn), never O(table). The same 30-date lake takes merges touching
    // 1 / 8 / 30 dates at the same per-date churn rate (~2% of keys
    // updated, ~2% deleted): wall growing ~linearly in touched dates (each
    // one bounded leaf rewrite) while the untouched-leaf count never
    // enters the cost is the partition-scoped-merge evidence — a merge
    // that accidentally scanned or rewrote the whole table would price
    // all rungs the same.
    val lakeMergeR = (if (phase == "all" || phase == "lakemerge") Seq(1, 8, 30)
      else Seq.empty[Int]).map { k =>
      val sink = graft.streaming.LakeSink
      val base = java.nio.file.Files.createTempDirectory("graft-lakemerge")
      val lake = base.resolve("lake").toString
      val ev = graft.core.Tables.load(spark, dir, "events")
      (0 until 4).foreach { i =>
        sink.appendBatch(spark, lake,
          ev.filter(pmod(col("event_id"), lit(4)) === i), commitId = Some(i.toLong))
      }
      val dates = ev.select(to_date(col("ts")).cast("string").as("d")).distinct()
        .collect().map(_.getString(0)).sorted.take(k).toSeq
      val scoped = ev.filter(to_date(col("ts")).cast("string").isin(dates: _*))
      val upserts = scoped.filter(pmod(col("event_id"), lit(50)) === 0)
        .withColumn("value", col("value") + 1000.0)
      val deletes = scoped.filter(pmod(col("event_id"), lit(50)) === 1)
        .select("event_id", "ts")
      val t = time {
        val st = sink.mergeInto(spark, lake, upserts, "event_id", deletes,
          targetFileBytes = 1L << 30)
        require(st.rewrittenLeaves.size == k,
          s"merge rewrote ${st.rewrittenLeaves.size} of $k")
      }
      System.err.println(f"[scale] lakemerge k=$k%2d dates  merge=$t%6.2f s")
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      (k, t)
    }

    // data-skipping rung: f13's scale claim — a fixed range query's SCAN
    // stays constant while the table grows. The lake is laid down as 4k
    // contiguous-id commits (k copies of the corpus at shifted ids, the
    // ingest-clustered shape), all into the SAME 30 date leaves; the probe
    // reads one fixed quarter of copy 0. Zone maps must hold the scanned
    // file count flat across 1x/4x/16x while the listed file count grows
    // 16x — the difference between data skipping and merely pushing the
    // filter into a full scan.
    val lakeSkipR = (if (phase == "all" || phase == "lakeskip") Seq(1, 4, 16)
      else Seq.empty[Int]).map { k =>
      val sink = graft.streaming.LakeSink
      val base = java.nio.file.Files.createTempDirectory("graft-lakeskip")
      val lake = base.resolve("lake").toString
      val ev = graft.core.Tables.load(spark, dir, "events")
      val m = ev.agg(max(col("event_id"))).head.getLong(0) + 1L
      (0 until k).foreach { j =>
        val copy = ev.withColumn("event_id", col("event_id") + lit(j * m))
        (0 until 4).foreach { q =>
          sink.appendBatch(spark, lake,
            copy.filter(col("event_id") >= lit(j * m + q * (m / 4)) &&
              (if (q == 3) col("event_id") < lit((j + 1) * m)
               else col("event_id") < lit(j * m + (q + 1) * (m / 4)))),
            commitId = Some((j * 4 + q).toLong), statsCols = Seq("event_id"))
        }
      }
      val t = time {
        val (df, report) = sink.readPruned(spark, lake, "event_id",
          BigDecimal(m / 4), BigDecimal(m / 2 - 1))
        val n = df.count()
        System.err.println(f"[scale] lakeskip k=$k%2dx  rows=$n%7d  " +
          f"scanned=${report.scannedFiles}%3d of ${report.totalFiles}%4d files")
        require(report.scannedFiles < report.totalFiles,
          s"skipping stopped skipping at ${k}x: $report")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      (k, t)
    }

    // deletion-vector rung: f16's scale claim — retiring a fixed set of
    // rows via the merge-on-read sidecar costs O(touched-partition scan +
    // churn) and NEVER pays the copy-on-write rewrite, so against the same
    // growing table the DV delete's wall should stay near-flat while the
    // equivalent MERGE delete grows ~k-fold (it re-shuffles and rewrites
    // every byte of the touched leaves, which hold k corpus copies). The
    // ladder also prices the OTHER side of the tradeoff the verb's scaladoc
    // states: the standing merge-on-read READ tax (census with the DV
    // anti-join) and its retirement by a scoped materializing sweep.
    // Same-churn deletes scoped to 4 of 30 dates at every rung.
    val lakeDvR = (if (phase == "all" || phase == "lakedv") Seq(1, 4, 16)
      else Seq.empty[Int]).map { k =>
      val sink = graft.streaming.LakeSink
      val base = java.nio.file.Files.createTempDirectory("graft-lakedv")
      val dvLake = base.resolve("dv").toString
      val cowLake = base.resolve("cow").toString
      val ev = graft.core.Tables.load(spark, dir, "events")
      val m = ev.agg(max(col("event_id"))).head.getLong(0) + 1L
      (0 until k).foreach { j =>
        val copy = ev.withColumn("event_id", col("event_id") + lit(j * m))
        Seq(dvLake, cowLake).foreach { l =>
          sink.appendBatch(spark, l, copy, commitId = Some(j.toLong))
        }
      }
      val dates = ev.select(to_date(col("ts")).cast("string").as("d")).distinct()
        .collect().map(_.getString(0)).sorted.take(4).toSeq
      val touched = dates.map(d => s"event_date=$d").toSet
      // fixed churn: ~0.4% of copy 0's keys inside the 4 dates, every rung
      val deletes = ev.filter(to_date(col("ts")).cast("string").isin(dates: _*) &&
        pmod(col("event_id"), lit(241)) === 7).select("event_id", "ts")
      // the scale-deterministic evidence is BYTES WRITTEN (fixture-scale
      // walls are fixed-overhead-bound at ~1 s either way): the CoW merge
      // must rewrite every byte of the touched leaves — k corpus copies —
      // while the DV sidecar is O(churn) regardless of k
      def treeBytes(p: org.apache.hadoop.fs.Path,
          fs: org.apache.hadoop.fs.FileSystem,
          pred: String => Boolean): Long =
        if (!fs.exists(p)) 0L
        else fs.listStatus(p).map { s =>
          if (s.isDirectory) treeBytes(s.getPath, fs, pred)
          else if (pred(s.getPath.getName)) s.getLen else 0L
        }.sum
      val hconf = spark.sparkContext.hadoopConfiguration
      val tDv = time {
        val st = sink.deleteVectors(spark, dvLake, deletes, "event_id")
        require(st.deletedRows > 0 && st.touchedLeaves.size == 4,
          s"dv rung fixture drift: $st")
      }
      val dvRoot = new org.apache.hadoop.fs.Path(dvLake, "_graft_dv")
      val dvBytes = treeBytes(dvRoot, dvRoot.getFileSystem(hconf), _ => true)
      val tCow = time {
        val st = sink.mergeInto(spark, cowLake, ev.filter(lit(false)),
          "event_id", deletes, targetFileBytes = 1L << 30)
        require(st.rewrittenLeaves.size == 4,
          s"cow rung fixture drift: ${st.rewrittenLeaves}")
      }
      val cowRoot = new org.apache.hadoop.fs.Path(cowLake)
      val cowBytes = treeBytes(cowRoot, cowRoot.getFileSystem(hconf),
        n => n.startsWith(sink.Lineage.rewrite(k))) // the merge landed at commit id k
      val tMor = time { sink.readLake(spark, dvLake).count() }
      val tMat = time {
        sink.compactPartitions(spark, dvLake, 1L << 30, minFiles = 1,
          only = Some(touched))
      }
      val tPost = time { sink.readLake(spark, dvLake).count() }
      System.err.println(f"[scale] lakedv k=$k%2dx  dv=$tDv%6.2f s/${dvBytes >> 10}%6d KiB  " +
        f"cowmerge=$tCow%6.2f s/${cowBytes >> 10}%6d KiB  morread=$tMor%5.2f s  " +
        f"mat=$tMat%5.2f s  postread=$tPost%5.2f s")
      require(cowBytes > 0, "cow rung measured no gc rewrite bytes — lineage name drift?")
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      (k, Seq("dv" -> tDv, "dv_kib" -> (dvBytes >> 10).toDouble,
        "cow" -> tCow, "cow_kib" -> (cowBytes >> 10).toDouble,
        "morread" -> tMor, "mat" -> tMat, "postread" -> tPost))
    }

    // hot-key rung: st38's scale claim — a stateful top-k whose key is
    // ~100% hot (EVERY row of the run remapped into ONE 6 h window) must
    // not funnel the whole stream through one state store. The ladder runs
    // the same drain with 1 / 4 / 16 shards: at 1 the (window) key hashes
    // to a single state partition and one task applies every row's
    // counter update (the straggler); at s>1 the (window, hash(item)%s)
    // key spreads the SAME rows over s stores. Wall falling with s is the
    // no-straggler evidence; the bounded-state evidence is printed
    // alongside — state entries across all shards equal |distinct items|
    // (a constant ~few hundred), never O(rows), at every rung.
    val hotkeyR = (if (phase == "all" || phase == "hotkey") Seq(1, 4, 16)
      else Seq.empty[Int]).map { shards =>
      val so = graft.streaming.StatefulOps
      val ev = graft.core.Tables.load(spark, dir, "events")
      // one hot window starting 2024-06-01 00:00 UTC; item domain =
      // |types| x 200 composites; row spread inside the window derived
      // from the original timestamp
      val winStart = 1717200000000L
      val hot = ev.select(
        col("event_id"),
        expr(s"timestamp_millis($winStart + pmod(unix_millis(ts), 21600000))").as("ts"),
        col("user_id"),
        concat(col("event_type"), lit("_"), pmod(col("user_id"), lit(200))).as("event_type"),
        col("value"))
      val nRows = hot.count()
      val nItems = hot.select("event_type").distinct().count()
      val base = graft.streaming.ReplayHarness.scratchDir("graft_hotkey_")
      val streamDir = java.nio.file.Files.createDirectory(base.resolve("in"))
      val ckpt = base.resolve(s"ckpt_$shards").toString
      def publishOne(name: String, df: DataFrame, mod: Long): Unit = {
        val stage = base.resolve(s"stage_$name")
        df.coalesce(1).write.parquet(stage.toString)
        val listing = java.nio.file.Files.list(stage)
        val part = try listing.filter(_.getFileName.toString.startsWith("part-"))
          .findFirst().orElseThrow(() => new IllegalStateException(s"no part in $stage"))
        finally listing.close()
        val target = streamDir.resolve(s"$name.parquet")
        java.nio.file.Files.move(part, target)
        target.toFile.setLastModified(mod)
      }
      val now = System.currentTimeMillis()
      publishOne("batch_000", hot, now - 120000)
      publishOne("batch_zzz", spark.range(1).selectExpr("-1L AS event_id",
        s"timestamp_millis(${winStart + 2L * 86400000}) AS ts", "-1L AS user_id",
        "'zzz_sentinel' AS event_type", "0D AS value"), now - 60000)
      val (t, stateEntries) = try graft.core.GraftSession.withConf(spark,
          graft.streaming.ReplayHarness.RocksDB) { s =>
        val tDrain = time {
          import s.implicits._
          val in = s.readStream.schema(hot.schema)
            .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
          val q = so.shardedWindowTopKTWS(in.as[so.Event], shards = shards)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("noop")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        // MEASURED bounded-state evidence: read stage 1's MapState back off
        // the checkpoint (the st42 surface) as of the hot data batch — the
        // last version where the window is still open (the sentinel batch
        // then fires the timers and clears it). One reader row per map
        // entry, so the count IS the peak counter population across all
        // shard stores. A fixture-derived constant here would stay green
        // even if the operator's state actually grew O(rows).
        val measured = (0 to 1).view.map { op =>
          try s.read.format("statestore").option("path", ckpt)
            .option("operatorId", op.toString)
            .option("stateVarName", "shard_type_counts")
            .option("batchId", "0").load().count()
          catch { case scala.util.control.NonFatal(_) => -1L }
        }.find(_ >= 0)
          .getOrElse(sys.error("hotkey rung: stage-1 MapState unreadable " +
            "from either chained operator — bounded-state evidence lost"))
        (tDrain, measured)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      require(stateEntries == nItems,
        s"hotkey rung: measured state entries $stateEntries != distinct items " +
          s"$nItems — per-item counters are not the only state held")
      System.err.println(f"[scale] hotkey shards=$shards%2d  rows=$nRows%8d  " +
        f"state-entries=$stateEntries%5d (measured)  drain=$t%6.2f s")
      (shards, t)
    }

    // live-compaction re-delivery rung: st40's cost claim — when a sweep
    // rewrites already-tailed leaves, the hardened consumer re-reads and
    // SHEDS the whole table once (watermark late filter + within-watermark
    // dedup), so the incremental drain after a full rewrite costs about
    // one extra table scan + shuffle of dropped rows, NOT a re-aggregation
    // (no state growth: every re-delivered row dies before or inside the
    // dedup). Measured as drain #2 wall over an untouched lake (lists
    // nothing new) vs over a fully rewritten one (re-lists everything).
    val liveCompactR = (if (phase == "all" || phase == "livecompact") Seq(1)
      else Seq.empty[Int]).flatMap { _ =>
      val ev = graft.core.Tables.load(spark, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val nRows = ev.count()
      def layLake(): java.nio.file.Path = {
        val base = java.nio.file.Files.createTempDirectory("graft-livecompact")
        val lake = base.resolve("lake").toString
        (0 until 2).foreach { i => // two appends: every leaf sweep-eligible
          ev.filter(pmod(col("event_id"), lit(2)) === i)
            .withColumn("event_date", to_date(col("ts")))
            .write.partitionBy("event_date").mode("append").parquet(lake)
        }
        base
      }
      def drain(s: SparkSession, base: java.nio.file.Path): Double = time {
        val lake = base.resolve("lake").toString
        val schema = s.read.parquet(lake).schema
        val q = s.readStream.schema(schema)
          .option("maxFileAge", "100000d").parquet(lake)
          .withWatermark("ts", "25 hours")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .writeStream.outputMode("append")
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      graft.core.GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> "4") { s =>
        val quiet = layLake()
        drain(s, quiet) // attach
        val tQuiet = drain(s, quiet) // drain #2, nothing new
        val swept = layLake()
        drain(s, swept) // attach
        val n = graft.streaming.LakeSink.compactPartitions(
          s, swept.resolve("lake").toString, 1L << 30, minFiles = 2).size
        val tSwept = drain(s, swept) // drain #2, EVERY leaf re-delivered
        org.apache.commons.io.FileUtils.deleteQuietly(quiet.toFile)
        org.apache.commons.io.FileUtils.deleteQuietly(swept.toFile)
        System.err.println(f"[scale] livecompact rows=$nRows%8d leaves=$n%3d  " +
          f"drain2(quiet)=$tQuiet%6.2f s  drain2(rewritten)=$tSwept%6.2f s")
        Seq(("quiet", tQuiet), ("rewritten", tSwept))
      }
    }

    val json = (results.map { case (k, steps) =>
      steps.map { case (n, t) => s""""$n":$t""" }
        .mkString(s""""${k}x":{""", ",", "}")
    } ++ d12Skew.map { case (c, vals) =>
      vals.map { case (n, v) => s""""$n":$v""" }
        .mkString(s""""d12skew_$c":{""", ",", "}")
    } ++ d13Boiler.map { case (c, vals) =>
      vals.map { case (n, v) => s""""$n":$v""" }
        .mkString(s""""d13boiler_$c":{""", ",", "}")
    } ++ c45.map { case (tag, vals) =>
      vals.map { case (n, v) => s""""$n":$v""" }
        .mkString(s""""$tag":{""", ",", "}")
    } ++ bm25R.map { case (k, t) =>
      s""""bm25_${k}x":{"bm25":$t}"""
    } ++ bpeR.map { case (k, t) =>
      s""""bpe_${k}x":{"bpe5":$t}"""
    } ++ mmrR.map { case (k, t) =>
      s""""mmr_k$k":{"mmr":$t}"""
    } ++ ivfpqR.map { case (k, t) =>
      s""""ivfpq_${k}x":{"ivfpq":$t}"""
    } ++ ivfpqProbesR.map { case (p, (recall, coverage, cand, t)) =>
      s""""ivfpqprobes_p$p":{"recall5":$recall,"coverage5":$coverage,"cand":$cand,"scan":$t}"""
    } ++ ivfpqScanR.map { case (tag, vals) =>
      vals.map { case (n, v) => s""""$n":$v""" }
        .mkString(s""""$tag":{""", ",", "}")
    } ++ ivfpqIngestR.map { case (k, t) =>
      s""""ivfpqingest_${k}x":{"ingest":$t}"""
    } ++ ivfpqMaskR.map { case (pct, t) =>
      s""""ivfpqmask_${pct}pct":{"scan":$t}"""
    } ++ ivfpqDriftR.map { case (pct, (rf, rr, n)) =>
      s""""ivfpqdrift_${pct}pct":{"recall5_frozen":$rf,"recall5_rebuilt":$rr,"corpus":$n}"""
    } ++ filteredAnnR.map { case (k, vals) =>
      vals.map { case (n2, v) => s""""$n2":$v""" }
        .mkString(s""""filteredann_${k}x":{""", ",", "}")
    } ++ knnJoinR.map { case (k, vals) =>
      vals.map { case (n2, v) => s""""$n2":$v""" }
        .mkString(s""""knnjoin_${k}x":{""", ",", "}")
    } ++ lakeSweepR.map { case (k, t) =>
      s""""lakesweep_${k}":{"sweep":$t}"""
    } ++ lakeMergeR.map { case (k, t) =>
      s""""lakemerge_${k}":{"merge":$t}"""
    } ++ lakeSkipR.map { case (k, t) =>
      s""""lakeskip_${k}x":{"read":$t}"""
    } ++ lakeDvR.map { case (k, vals) =>
      vals.map { case (n, v) => s""""$n":$v""" }
        .mkString(s""""lakedv_${k}x":{""", ",", "}")
    } ++ hotkeyR.map { case (s, t) =>
      s""""hotkey_s${s}":{"drain":$t}"""
    } ++ liveCompactR.map { case (tag, t) =>
      s""""livecompact_$tag":{"drain2":$t}"""
    }).mkString("{\"metric\":\"scale_ladder\",", ",", "}")
    println(json)
    spark.stop()
  }
}
