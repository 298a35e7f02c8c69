package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soak harness (round-1 methodology, kept as a tool): replicate
  * sf0.1 N× with shifted keys into /dev/shm and run the coverage queries
  * with the library's default scale configs (the Default session profile
  * on `local[SPARK_GRAFT_CPUS or nproc]`: AQE on, 32 shuffle partitions,
  * default splits; `SPARK_LOCAL_DIRS` moves spill files) — catches
  * output-grows-with-input and quadratic-blowup problems no fixed-SF
  * benchmark can.
  * Usage: sbt "runMain graft.Soak [multiplier] [nameFilter]"  (default 10;
  * a filter of comma-separated substrings runs only queries matching any
  * of them, skipping table replication when none of the selected queries
  * reads the tables; the term `ann_recall` runs [[annRecall]], and a term
  * that selects nothing is an error). */
object Soak {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val nameFilter = args.lift(1)
    val out = s"/dev/shm/graft-soak-x$mult"
    val spark = Engine.session(Engine.localMaster, shufflePartitions = 32)
    spark.sparkContext.setLogLevel("ERROR")
    // Zipfian-skew dedup scenario (no fixture involvement — the fixture
    // corpus has a CLOSED vocabulary where every shingle is frequent, so a
    // df-cap there proves nothing): n docs all sharing a 6-token
    // boilerplate header (4 stop trigrams with df = n, each contributing
    // ~n²/2 inverted-index join rows — the quadratic skew ceiling), in
    // twin pairs whose unique trigrams have df = 2 (the true near-dups).
    // The capped form must (a) lift the ceiling and (b) return exactly the
    // n/2 twin pairs — both asserted here, timed like any soak query.
    def skewCorpus(n: Int): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        concat(lit("the quick brown fox jumps over "),
          concat_ws(" ", (0 until 5).map(k =>
            concat(lit(s"u${k}x"), col("id") % lit(n / 2))): _*)).as("text"))
    val skewN = mult * 1000
    def skewShingles(t: Tables) = graft.operators.Dedup.shingleSet(
      skewCorpus(skewN), col("doc_id"), col("text"), 3)
    val skewQs: Seq[(String, Tables => DataFrame)] = Seq(
      "jaccard_skew_uncapped" -> ((t: Tables) =>
        graft.operators.Dedup.ngramJaccard(skewShingles(t), 0.9)),
      "jaccard_skew_dfcap" -> ((t: Tables) =>
        graft.operators.Dedup.ngramJaccard(skewShingles(t), 0.9, dfCap = Some(100L))))

    val src = Tables(spark, "/root/testdata/sf0.1")

    // the skew queries synthesize their corpus inline — when a filter
    // selects only those, the (minutes-long) table replication is skipped
    val tableQsAll = (CoverageQueries.all.toSeq ++ PipelineQueries.all.toSeq).sortBy(_._1) ++
      (Seq("q31_dedup_minhash_lsh", "q32_dedup_simhash", "q35_ann_ivf",
        "q118_semdedup",
        "q129_decode_quarantine", "q131_pq_rerank", "q142_kmeans_train",
        "q144_bitext_margin")
        .map(n => n -> ExtensionQueries.all(n)) ++ Seq(
        // the 64-bit scale variant (not oracle-gated; measured here to back
        // the N²/buckets claim against the 32-bit contract form)
        "simhash64_scale" -> ((t: Tables) =>
          graft.operators.Dedup.simHashNearDups(
            graft.operators.Dedup.simHash64Native(
              t.documents, org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("text"), 3),
            maxDist = 3, bits = 64)),
        // incremental-vs-full a/b (the daily-ingest claim behind q75):
        // 1/50th of the corpus arrives as the new batch; incremental
        // band-joins it against the PRE-WRITTEN corpus signature table
        // (written once below, outside the timed reps, like production),
        // full recomputes minHashNearDups over the whole corpus
        "dedup_incr_batch" -> ((t: Tables) => {
          val batch = t.documents.filter(col("doc_id") % 50 === 0)
          val (pairs, _) = graft.operators.Dedup.incrementalNearDups(
            batch, col("doc_id"), col("text"),
            t.spark.read.parquet(s"$out/corpus_sigs.parquet"))
          pairs
        }),
        "dedup_full_recompute" -> ((t: Tables) =>
          graft.operators.Dedup.minHashNearDups(
            t.documents, col("doc_id"), col("text"))),
        // q185's sketch-edge scale path: at ×30 the exact percentile
        // buffers the whole 18M-row value column (~29 s); the
        // approx_percentile edges make the edge pass a fixed-size
        // sketch — the form a 100 TB run uses
        "ks_binned_approx" -> ((t: Tables) =>
          graft.operators.TimeSeries.ksDriftBinned(t.lineitem,
            col("l_returnflag"), col("l_extendedprice"),
            bins = 32, approxEdges = true))))
    val filterTerms = nameFilter.toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val unmatched = filterTerms.filterNot(term => term == "ann_recall" ||
      (tableQsAll ++ skewQs).exists(_._1.contains(term)))
    require(unmatched.isEmpty,
      s"filter terms match no soak query or mode: ${unmatched.mkString(", ")}")
    def selected[A](qs: Seq[(String, A)]) =
      qs.filter { case (n, _) =>
        filterTerms.isEmpty || filterTerms.exists(n.contains) }
    val tableQs = selected(tableQsAll)

    def replicate(df: DataFrame, name: String, shift: (DataFrame, Int) => DataFrame): Unit = {
      if (tableQs.isEmpty) return
      val copies = (0 until mult).map(i => shift(df, i)).reduce(_ unionAll _)
      copies.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
    }
    // lineitem: shift orderkey so copies do not collide
    replicate(src.lineitem, "lineitem",
      (d, i) => d.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 10000000L)))
    // part: shift partkey (q48 filters p_partkey % 40 = 0 — shift by a
    // multiple of 40 so each copy contributes the same share)
    replicate(src.part, "part",
      (d, i) => d.withColumn("p_partkey", col("p_partkey") + lit(i.toLong * 1000000L)))
    // events: shift event_id and user_id — distinct user populations so
    // session/window key counts scale, not per-key depth
    replicate(src.events, "events",
      (d, i) => d
        .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))
        .withColumn("user_id", col("user_id") + lit(i.toLong * 10000000L)))
    // documents: shift doc_id (near-dup pair structure replicates per copy)
    replicate(src.documents, "documents",
      (d, i) => d.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L)))
    // orders: o_orderkey shifted IDENTICALLY to l_orderkey so the fact
    // join (q54) stays consistent; o_custkey tracks the customer shift
    replicate(src.orders, "orders",
      (d, i) => d
        .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i.toLong * 1000000L)))
    replicate(src.customer, "customer",
      (d, i) => d.withColumn("c_custkey", col("c_custkey") + lit(i.toLong * 1000000L)))
    // embeddings: shift by a multiple of 100 (q55 samples vec_id % 100)
    replicate(src.embeddings, "embeddings",
      (d, i) => d.withColumn("vec_id", col("vec_id") + lit(i.toLong * 100000000L)))
    // small dims: straight copies
    if (tableQs.nonEmpty) Seq("region", "nation", "supplier").foreach { n =>
      spark.read.parquet(s"/root/testdata/sf0.1/$n.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$n.parquet")
    }

    val t = if (tableQs.nonEmpty) Tables(spark, out) else null
    // the corpus signature table the incremental a/b reads: written once,
    // outside the timed reps — in production this is yesterday's output
    if (tableQs.exists(_._1 == "dedup_incr_batch"))
      graft.operators.Dedup.minHashSignaturesNative(
          t.documents.filter(col("doc_id") % 50 =!= 0), col("doc_id"), col("text"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/corpus_sigs.parquet")
    val qs = tableQs ++ selected(skewQs)
    // dfcap recall gate, asserted ONCE here OUTSIDE the timed reps: a
    // count+require inside the timed lambda double-materializes the pair
    // table and inflates the dfcap number the a/b comparison relies on
    if (qs.exists(_._1 == "jaccard_skew_dfcap")) {
      val got = graft.operators.Dedup
        .ngramJaccard(skewShingles(t), 0.9, dfCap = Some(100L)).count()
      require(got == skewN / 2, s"dfcap recall broke: $got of ${skewN / 2} twin pairs")
    }
    qs.foreach { case (_, q) => q(t).collect() } // warm (JIT/codegen)
    qs.foreach { case (n, q) =>
      val times = (1 to 2).map { _ =>
        // operator caches and the Tables memo checkpoints would turn a
        // rep into a scan of stored rows, not the pipeline — clear both
        // before every rep (same reason as Bench)
        spark.sharedState.cacheManager.clearCache()
        Tables.clearPairCache()
        val t0 = System.nanoTime(); q(t).collect()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[soak] x$mult $n ${times.min}%.2f s")
    }
    // the one special mode is a named filter term, composable with query terms
    if (filterTerms.contains("ann_recall")) annRecall(spark)
    spark.stop()
  }

  /** ANN RECALL harness — the quality curve behind the IVF/PQ operators.
    * The correctness gates (q35/q80/q89/q90) pin the algorithms against
    * anchor points (nprobe=1 ≡ own-bucket, nprobe=#centroids ≡ brute
    * force), but a production operating point is chosen from the
    * recall-vs-cost CURVE, which no fixed gate reports. Exact ground
    * truth per leg (brute-force cosine top-k for IVF, whose ranking
    * metric is cosine; brute-force L2 top-k for PQ/IVF-PQ, whose ADC
    * metric is L2), nprobe swept over 32 TRAINED centroids (k-means, not
    * the gates' deterministic seed ids) plus a PQ m sweep; curves land
    * in docs/ANN_RECALL.json.
    *
    * Two legs, because the fixture is DEGENERATE for this question: the sf0.1 embeddings are uniform
    * random unit vectors (measured: same-label and cross-label mean
    * cosine both ~1e-5) — the curse-of-dimensionality worst case where
    * NO bucketed index beats the scanned fraction, so that leg reports
    * the honest floor (recall ~ nprobe/kc, measured 0.60 at 8/32) and
    * gates only the anchors. The clustered leg is the regime real text/
    * image embeddings live in (tight clusters, here a deterministic
    * 32-component Gaussian mixture): there the gate requires recall@10
    * >= 0.9 at the named operating point — IVF kc=32 nprobe=4, an
    * eighth of the buckets — plus monotonicity and the exact endpoint
    * on both legs.
    *
    * Usage: sbt "runMain graft.Soak 1 ann_recall" */
  /** (qid → answer set) for recall comparisons. */
  private def topSet(df: DataFrame): Map[Long, Set[Long]] =
    df.select(col("qid"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def recallVs(truth: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double =
    truth.map { case (q, t) => got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      .sum / truth.size

  private def annRecall(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.plans.GraftFunctions
    GraftFunctions.ensureRegistered(spark)
    val k = 10
    val dim = 64
    val kc = 32
    // deterministic 32-component Gaussian mixture on the unit sphere —
    // the clustered regime real embeddings live in (seeded per id/center).
    // sigma is PER COMPONENT: centers have norm ~sqrt(dim)=8, so
    // sigma=0.5 puts the noise norm at ~4 (within-cluster cosine ~0.8,
    // tight but not degenerate); sigma=3 would drown the centers
    // (noise norm 24) and reproduce the random leg
    def clusteredCorpus(n: Int, sigma: Double): DataFrame =
      spark.range(n).as[Long].map { id =>
        val c = (id % kc).toInt
        val rc = new scala.util.Random(9000L + c)
        val center = Array.fill(dim)(rc.nextGaussian())
        val rv = new scala.util.Random(777000L + id)
        val v = center.map(x => x + sigma * rv.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(_ / norm).toSeq)
      }.toDF("vec_id", "e")
    val legJsons = scala.collection.mutable.ArrayBuffer.empty[String]
    def leg(label: String, vecs: DataFrame, gateOperatingPoint: Boolean): Unit = {
      val e = vecs.persist(); e.count()
      val queries = e.filter(col("vec_id") % 40 === 0)
      val nq = queries.count()
      val wCos = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
      val exactCos = topSet(queries.select(col("vec_id").as("qid"), col("e").as("qe"))
        .join(broadcast(e), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          GraftFunctions.cosineSimilarity(col("qe"), col("e")).as("sim"))
        .withColumn("rn", row_number().over(wCos)).filter(col("rn") <= k))
      val wL2 = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("adist"), col("vec_id"))
      val exactL2 = topSet(queries.select(col("vec_id").as("qid"), col("e").as("qe"))
        .join(broadcast(e), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          GraftFunctions.l2Distance(col("qe"), col("e")).as("adist"))
        .withColumn("rn", row_number().over(wL2)).filter(col("rn") <= k))
      val centroids = Similarity.trainCentroids(e, kc, iters = 10, dim = dim)
      val assign = Similarity.ivfAssign(e, centroids).persist()
      assign.count()
      val nprobes = Seq(1, 2, 4, 8, 16, kc)
      val ivfCurve = nprobes.map { np =>
        np -> recallVs(exactCos,
          topSet(Similarity.ivfTopKProbed(e, assign, centroids, queries, k, np)))
      }
      ivfCurve.foreach { case (np, r) =>
        println(f"[soak] ann_recall $label ivf kc=$kc nprobe=$np%2d: recall@$k $r%.3f") }
      val pqCurve = Seq(8, 16).map { m =>
        val cb = Similarity.pqCodebook(e, m, ksub = 16, dim = dim)
        val recon = Similarity.pqReconstruct(Similarity.pqEncode(e, cb, m, dim), cb)
          .select(col("vec_id"), col("re"))
        val pqR = recallVs(exactL2, topSet(Similarity.pqTopKAdc(recon, queries, k)))
        val ivfPqR = recallVs(exactL2,
          topSet(Similarity.ivfPqTopK(assign, recon, centroids, queries, k, nprobe = 4)))
        val rerankR = recallVs(exactL2,
          topSet(Similarity.pqTopKReranked(recon, e, queries, k, mult = 8)))
        // the composed production layout: IVF-bucketed ADC candidates +
        // exact rerank — must reach the corpus-wide rerank's floor at
        // bucket-restricted candidate cost
        val ivfRerankR = recallVs(exactL2,
          topSet(Similarity.ivfPqTopKReranked(assign, recon, centroids, e,
            queries, k, nprobe = 4, mult = 8)))
        // IVFADC proper: residual-encoded codes at the SAME m/ksub — the
        // recall lift residual encoding buys over raw-vector encoding
        // persisted: TWO recall measurements (plain + reranked) consume
        // this chain — without the cache the full residual
        // encode/reconstruct would execute twice per (leg, m)
        val residRecon = Similarity.ivfResidualReconstruct(
          e, assign, centroids, m, ksub = 16, dim = dim).persist()
        val residR = recallVs(exactL2,
          topSet(Similarity.ivfPqTopK(assign, residRecon, centroids, queries, k,
            nprobe = 4)))
        // the FULL production layout (q151): residual-ADC candidates +
        // exact rerank — residual codes sharpen the candidate cut, so
        // the composition must hold the rerank floor too
        val residRerankR = recallVs(exactL2,
          topSet(Similarity.ivfPqTopKReranked(assign, residRecon, centroids, e,
            queries, k, nprobe = 4, mult = 8)))
        residRecon.unpersist(blocking = false)
        println(f"[soak] ann_recall $label pq m=$m%2d ksub=16: adc recall@$k $pqR%.3f, " +
          f"ivf-pq(nprobe=4) $ivfPqR%.3f, adc+rerank(8k) $rerankR%.3f, " +
          f"ivfpq+rerank(8k) $ivfRerankR%.3f, ivfadc-residual $residR%.3f, " +
          f"residual+rerank(8k) $residRerankR%.3f")
        (m, pqR, ivfPqR, rerankR, ivfRerankR, residR, residRerankR)
      }
      // SQ8 — the near-exact rung: 8 bits PER DIMENSION (512 bits/vector
      // at dim=64) vs PQ's m·log2(16) (32-64 bits/vector). ADC over SQ
      // reconstructions should sit at or near exact recall with NO
      // rerank — the measured placement of the compression ladder.
      val sqStats = Similarity.sqStats(e, dim)
      val sqRecon = Similarity.sqReconstruct(Similarity.sqEncode(e, sqStats), sqStats)
        .select(col("vec_id"), col("re"))
      val sqR = recallVs(exactL2, topSet(Similarity.pqTopKAdc(sqRecon, queries, k)))
      println(f"[soak] ann_recall $label sq8: adc recall@$k $sqR%.3f (no rerank)")
      if (gateOperatingPoint) {
        require(sqR >= 0.95,
          s"$label: SQ8 ADC must be near-exact without rerank, got $sqR")
        // >= not >: the claim is SQ8 dominating-or-tying — a PQ leg can
        // legitimately reach the same recall (e.g. both 1.0 on an easy
        // leg), and a strict gate would flake on exactly that tie
        require(pqCurve.forall(c => sqR >= c._2),
          s"$label: SQ8 (8 bits/dim) must dominate or tie every ADC-only PQ recall: $sqR vs $pqCurve")
      }
      // the COMPOSED production rebuild (q160's shape at operating scale):
      // k-means|| init -> Lloyd -> IVF at nprobe=4, measured against the
      // same exact truth as the lowest-id-init curve above — the recall
      // claim the composition's gate (q160) points at
      val kppCent = Similarity.trainCentroidsFrom(e,
        Similarity.scalableInitCentroids(e, kc, rounds = 3, l = kc),
        iters = 10, dim = dim)
      val kppAssign = Similarity.ivfAssign(e, kppCent).persist()
      val kppR = recallVs(exactCos,
        topSet(Similarity.ivfTopKProbed(e, kppAssign, kppCent, queries, k, 4)))
      kppAssign.unpersist(blocking = false)
      println(f"[soak] ann_recall $label kmeans||+lloyd+ivf(nprobe=4) composed: " +
        f"recall@$k $kppR%.3f (lowest-id-init curve reads ${ivfCurve.toMap.apply(4)}%.3f)")
      if (gateOperatingPoint) {
        require(kppR >= 0.9,
          s"$label: composed kmeans||->lloyd->ivf must hold the operating-point floor: $kppR")
      }
      // Matryoshka prefix-dim ladder (q162's operator at operating
      // scale): candidates from the first d dims, exact rerank of the
      // 8k survivors — how much of the vector does candidate generation
      // actually need? Measured against the same exact-L2 truth.
      val mrlCurve = Seq(8, 16, 32).map { dp =>
        dp -> recallVs(exactL2,
          topSet(Similarity.prefixRerankTopK(e, queries, k, dPrefix = dp, mult = 8)))
      }
      mrlCurve.foreach { case (dp, r) =>
        println(f"[soak] ann_recall $label matryoshka d=$dp%2d/dim=$dim mult=8: recall@$k $r%.3f") }
      // near-monotone in prefix width (small tolerance — fixed mult means
      // a wider prefix improves candidates in expectation, not per-query)
      mrlCurve.map(_._2).sliding(2).foreach {
        case Seq(a, b) => require(b >= a - 0.02,
          s"$label: matryoshka recall should not degrade with more prefix dims: $mrlCurve")
        case _ => ()
      }
      if (gateOperatingPoint) {
        // measured 0.992 / 1.000 on the clustered leg (quarter / half width)
        require(mrlCurve.toMap.apply(16) >= 0.9 && mrlCurve.toMap.apply(32) >= 0.95,
          s"$label: prefix rerank must hold the clustered floors: $mrlCurve")
      }
      // Binary sign-quantized Hamming prefilter (q172's operator at
      // operating scale): 1 bit/dim codes, exact-cosine rerank of the
      // k·mult survivors — how much recall does the 32×-compressed
      // prefilter keep, and how fast does rerank width buy it back?
      val binCurve = Seq(2, 4, 8).map { mult =>
        mult -> recallVs(exactCos,
          topSet(Similarity.binaryHammingTopKReranked(e, queries, dim, k, mult)
            .select(col("qid"), col("vec_id"), col("rn"))))
      }
      binCurve.foreach { case (m, r) =>
        println(f"[soak] ann_recall $label binary-hamming mult=$m%2d rerank: recall@$k $r%.3f") }
      binCurve.map(_._2).sliding(2).foreach {
        case Seq(a, b) => require(b >= a - 0.02,
          s"$label: binary recall should not degrade with rerank width: $binCurve")
        case _ => ()
      }
      if (gateOperatingPoint) {
        require(binCurve.toMap.apply(8) >= 0.85,
          s"$label: binary prefilter at mult=8 must hold the clustered floor: $binCurve")
      }
      val json =
        s"""{"leg":"$label","n_vectors":${e.count()},"n_queries":$nq,"k":$k,""" +
        s""""kmeanspp_composed_nprobe4_recall":$kppR,""" +
        s""""binary_hamming_rerank":{""" +
        binCurve.map { case (m, r) => s""""$m":$r""" }.mkString(",") + "}," +
        s""""matryoshka_mult8":{""" +
        mrlCurve.map { case (dp, r) => s""""$dp":$r""" }.mkString(",") + "}," +
        s""""sq8_adc_recall":$sqR,""" +
        s""""ivf":{"kc":$kc,"trained_iters":10,"curve":{""" +
        ivfCurve.map { case (np, r) => s""""$np":$r""" }.mkString(",") + "}}," +
        s""""pq":[""" + pqCurve.map { case (m, pr, ip, rr, ir, rs, rsr) =>
          s"""{"m":$m,"ksub":16,"adc_recall":$pr,"ivfpq_nprobe4_recall":$ip,""" +
          s""""adc_rerank8k_recall":$rr,"ivfpq_rerank8k_recall":$ir,""" +
          s""""ivfadc_residual_recall":$rs,"ivfadc_rerank8k_recall":$rsr}"""
        }.mkString(",") + "]," +
        s""""operating_point":{"index":"ivf","kc":$kc,"nprobe":4,"gated":$gateOperatingPoint,""" +
        s""""recall_at_$k":${ivfCurve.toMap.apply(4)}}}"""
      legJsons += json
      val curve = ivfCurve.map(_._2)
      require(curve.zip(curve.tail).forall { case (a, b) => b >= a - 1e-9 },
        s"$label: IVF recall must be monotone in nprobe: $ivfCurve")
      require(math.abs(ivfCurve.toMap.apply(kc) - 1.0) < 1e-9,
        s"$label: nprobe=#centroids must be exact (the spec anchor, re-proven on the curve)")
      if (gateOperatingPoint) {
        require(ivfCurve.toMap.apply(4) >= 0.9,
          s"$label: operating point (kc=$kc, nprobe=4) must reach recall@$k >= 0.9: $ivfCurve")
        require(pqCurve.forall(_._4 >= 0.9),
          s"$label: PQ with exact re-rank (mult=8) must reach recall@$k >= 0.9: $pqCurve")
        require(pqCurve.forall(_._5 >= 0.9),
          s"$label: IVF+PQ+rerank composed must reach the rerank floor >= 0.9: $pqCurve")
        require(pqCurve.forall(c => c._6 > c._3),
          s"$label: residual encoding must lift recall over raw IVF-PQ at equal m/ksub: $pqCurve")
        require(pqCurve.forall(_._7 >= 0.9),
          s"$label: residual-ADC + rerank (the q151 layout) must hold the rerank floor >= 0.9: $pqCurve")
      }
      assign.unpersist(blocking = false)
      e.unpersist(blocking = false)
    }
    leg("clustered", clusteredCorpus(2000, sigma = 0.5), gateOperatingPoint = true)
    leg("fixture_random",
      spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e")),
      gateOperatingPoint = false)
    java.nio.file.Files.write(java.nio.file.Paths.get("docs/ANN_RECALL.json"),
      legJsons.mkString("[", ",\n", "]").getBytes("UTF-8"))
    println(s"[soak] ann_recall wrote docs/ANN_RECALL.json")
    ()
  }
}
