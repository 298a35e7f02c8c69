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
  * reads the tables). */
object Soak {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val nameFilter = args.lift(1)
    val out = s"/dev/shm/graft-soak-x$mult"
    // shuffle partitions are env-overridable for scale-diagnosis runs: at
    // ×100 sizes some legs carry ~1 GB of in-flight rows per task at 32
    // partitions (the linededup_scale 40M-doc step), and the partition
    // count IS the per-task-density knob a cluster would turn
    val spark = Engine.session(Engine.localMaster,
      shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SOAK_SHUF", "32").toInt)
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
        graft.operators.Dedup.ngramJaccardCapped(skewShingles(t), 0.9, dfCap = 100L)))

    // CC-variant a/b on the structures that separate them: one deep chain
    // (diameter = n, stresses round count) plus one max-degree hub
    // (fanout = n, stresses per-round edge volume), disjoint components.
    // Collect is the (id, rep) labeling — linear in vertices, as in q57.
    val ccN = mult * 10000L
    def ccGraph: DataFrame = spark.range(ccN)
      .select((col("id") + 1000000000L).as("da"), (col("id") + 1000000001L).as("db"))
      .unionAll(spark.range(ccN).select(lit(0L).as("da"), (col("id") + 1L).as("db")))
    val ccQs: Seq[(String, Tables => DataFrame)] = Seq(
      "cc_chainhub_jumped" -> ((_: Tables) =>
        graft.operators.Dedup.connectedComponents(ccGraph, maxIter = 50)),
      "cc_chainhub_stars" -> ((_: Tables) =>
        graft.operators.Dedup.connectedComponentsStars(ccGraph, maxIter = 50)))

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
    // events: replicate the normalized view (ts → µs TimestampType
    // regardless of the source file's physical layout) shifting event_id
    // and user_id — distinct user populations so session/window key
    // counts scale, not per-key depth
    replicate(
      Tables.eventsView(spark, "/root/testdata/sf0.1"),
      "events",
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
    val qs = tableQs ++ selected(skewQs) ++ selected(ccQs)
    // dfcap recall gate, asserted ONCE here OUTSIDE the timed reps: a
    // count+require inside the timed lambda double-materializes the pair
    // table and inflates the dfcap number the a/b comparison relies on
    if (qs.exists(_._1 == "jaccard_skew_dfcap")) {
      val got = graft.operators.Dedup
        .ngramJaccardCapped(skewShingles(t), 0.9, dfCap = 100L).count()
      require(got == skewN / 2, s"dfcap recall broke: $got of ${skewN / 2} twin pairs")
    }
    qs.foreach { case (_, q) => q(t).collect() } // warm (JIT/codegen)
    qs.foreach { case (n, q) =>
      val times = (1 to 2).map { _ =>
        // the dedup operators persist their results; an identical fresh
        // plan would read that cache and time a cache scan, not the
        // pipeline — clear before every rep (same reason as Bench)
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime(); q(t).collect()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[soak] x$mult $n ${times.min}%.2f s")
    }
    // special modes are named filter terms, composable with query terms
    if (filterTerms.contains("incr_days")) incrDays(spark, days = mult, out)
    if (filterTerms.contains("sketch_days")) sketchDays(spark, days = mult, out)
    if (filterTerms.contains("semdedup_k")) semDedupK(spark, mult)
    if (filterTerms.contains("gopher_ab")) gopherAb(spark, mult)
    if (filterTerms.contains("hh_ab")) hhAb(spark, mult)
    if (filterTerms.contains("bpetrain_k")) bpeTrainK(spark, mult)
    if (filterTerms.contains("bpetrain_batch")) bpeTrainBatch(spark, mult)
    if (filterTerms.contains("linededup_hotkey")) lineDedupHotKey(spark, mult)
    if (filterTerms.contains("linededup_scale")) lineDedupScale(spark, mult)
    if (filterTerms.contains("exactsub_hotshingle")) exactSubHotShingle(spark, mult)
    if (filterTerms.contains("spans_skew")) spansSkew(spark, mult)
    if (filterTerms.contains("spans_scale")) spansScale(spark, mult)
    if (filterTerms.contains("boilerplate_hot")) boilerplateHot(spark, mult)
    if (filterTerms.contains("hashedlr_dims")) hashedLrDims(spark, mult)
    if (filterTerms.contains("ann_recall")) annRecall(spark)
    if (filterTerms.contains("asof_hotuser")) asofHotUser(spark, mult)
    if (filterTerms.contains("discretize_ab")) discretizeAb(spark, mult)
    if (filterTerms.contains("index_ingest_ab")) indexIngestAb(spark, mult, out)
    if (filterTerms.contains("index_drift")) indexDrift(spark)
    if (filterTerms.contains("hilbert_ab")) hilbertAb(spark, mult)
    if (filterTerms.contains("opq_ab")) opqAb(spark)
    spark.stop()
  }

  /** Rotation-vs-raw PQ behind q159's claim: a corpus whose variance
    * concentrates in 4 CONTIGUOUS dimensions (signal scale 10, the
    * other 60 dims noise 0.1), with MORE clusters (64) than codebook
    * entries (16) — the regime where the contiguous layout genuinely
    * starves: the subspace owning all 4 signal dims must represent 64
    * cluster centers with 16 joint prototypes, while the signed
    * permutation scatters the signal dims across subspaces so each code
    * table only has to resolve ~one signal dimension (16 levels PER
    * dim, 16⁴ joint combinations after concatenation — the actual OPQ
    * variance-balancing argument). With clusters ≤ codes the opposite
    * holds for seeded codebooks (16 prototypes = the 16 centers is a
    * perfect joint quantizer — measured this round: raw 0.202 vs
    * rotated 0.144 at kc=16; the a/b's first corpus accidentally sat in
    * that regime, caught the first time the soak was RUN rather than
    * reviewed). Recall is measured against the SAME exact ground truth
    * (the rotation is orthogonal — distances are preserved), so the
    * delta is purely the encoder's.
    *
    * Usage: sbt "runMain graft.Soak 1 opq_ab" */
  private def opqAb(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.plans.GraftFunctions
    GraftFunctions.ensureRegistered(spark)
    val dim = 64; val k = 10; val kc = 64; val m = 4
    val corpus = spark.range(2000).as[Long].map { id =>
      val c = (id % kc).toInt
      val rc = new scala.util.Random(4400L + c)
      val center = Array.fill(4)(rc.nextGaussian() * 10.0)
      val rv = new scala.util.Random(4477000L + id)
      val v = Array.tabulate(dim)(j =>
        (if (j < 4) center(j) else 0.0) + 0.1 * rv.nextGaussian())
      (id, v.toSeq)
    }.toDF("vec_id", "e").persist()
    corpus.count()
    val queries = corpus.filter(col("vec_id") % 40 === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    val exact = topSet(queries.select(col("vec_id").as("qid"), col("e").as("qe"))
      .join(broadcast(corpus), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        GraftFunctions.l2Distance(col("qe"), col("e")).as("adist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k))
    def recallOf(vecs: DataFrame): Double = {
      val cb = Similarity.pqCodebook(vecs, m, ksub = 16, dim = dim)
      val recon = Similarity.pqReconstruct(Similarity.pqEncode(vecs, cb, m, dim), cb)
      val qs = vecs.filter(col("vec_id") % 40 === 0)
      recallVs(exact, topSet(Similarity.pqTopKAdc(recon, qs, k)))
    }
    val raw = recallOf(corpus)
    val (perm, signs) = Similarity.sprRotation(dim)
    val rot = recallOf(Similarity.rotateSigned(corpus, perm, signs))
    // the PRINCIPLED rotation (parametric OPQ, Ge et al. 2013's
    // eigenvalue-allocation recipe): PCA basis from the data (q170's
    // moment pass + driver eigen), components dealt round-robin by
    // descending eigenvalue so every subspace receives an equal share
    // of the spectrum — the md5 permutation above balances BLINDLY,
    // this balances by measured variance. Position s·dsub + t holds
    // the component ranked s + t·m.
    val (pMean, comps, _) = graft.operators.Pca.pcaComponents(corpus, dim = dim, k = dim)
    val dsub = dim / m
    val rr = Array.tabulate(dim) { pos => comps(pos / dsub + (pos % dsub) * m) }
    val pca = recallOf(graft.operators.Pca.pcaProject(corpus, pMean, rr)
      .withColumnRenamed("proj", "e"))
    println(f"[soak] opq_ab m=$m ksub=16 contiguous-signal corpus: " +
      f"adc recall@$k raw $raw%.3f vs rotated(md5) $rot%.3f " +
      f"vs rotated(pca-rr) $pca%.3f")
    corpus.unpersist(blocking = false)
    // strict lift, unless the rotated leg is already AT the 1.0 ceiling
    // (a tie at ceiling is the best possible outcome, not a regression —
    // a strict gate would flake on exactly that)
    require(rot > raw || rot >= 1.0 - 1e-9,
      f"the signed-permutation rotation must lift PQ recall on the " +
        f"concentrated corpus: raw $raw%.3f vs rotated $rot%.3f")
    require(pca > raw || pca >= 1.0 - 1e-9,
      f"the eigenvalue-allocation rotation must lift PQ recall: " +
        f"raw $raw%.3f vs pca-rr $pca%.3f")
  }

  /** Layout-locality a/b behind q158's claim: lay the SAME point set out
    * as `files` equal-count files under the Morton key vs the Hilbert
    * key, keep per-file (min,max) stats of BOTH source dimensions — the
    * parquet row-group stats a scan would prune on — and count files
    * whose stat rectangles intersect each of a deterministic battery of
    * square range queries. Hilbert's adjacency (consecutive curve
    * positions are always grid-neighbors, pinned in LayoutSpec) means a
    * file's curve interval covers a more compact region, so its stat
    * rectangle is tighter and fewer files match a given query. Points
    * are hash-scattered (not grid-aligned) so neither curve gets an
    * alignment gift.
    *
    * Usage: sbt "runMain graft.Soak 1 hilbert_ab" — n = mult·2^20
    * points on a 256×256 grid, 64 files, 81 queries of 48×48. */
  private def hilbertAb(spark: SparkSession, mult: Int): Unit = {
    import spark.implicits._
    import graft.operators.Layout
    val n = mult.toLong << 20
    val files = 64
    // Knuth multiplicative-hash HIGH bits (low-bit residues of id*K are
    // a lattice — every (x,y) would fall on a few lines and both curves
    // would get degenerate stats)
    val pts = spark.range(n).select(
      shiftrightunsigned(col("id") * 2654435761L, 16).bitwiseAND(lit(255L)).as("x"),
      shiftrightunsigned(col("id") * 2246822519L + 98765L, 16).bitwiseAND(lit(255L)).as("y"))
    def touched(keyed: DataFrame): Double = {
      // file id by equal-count curve-order split (the range-partitioned
      // write's file boundaries); per-file min/max of both dims
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("__k"), col("x"), col("y"))
      val stats = keyed
        // cast to long BEFORE the multiply: row_number() is IntegerType,
        // and (n-1)·64 overflows Int from mult ≥ 32 (n = 2^25), yielding
        // negative file ids and corrupt stats
        .withColumn("__f", ((row_number().over(w) - 1).cast("long") * files / n).cast("int"))
        .groupBy("__f")
        .agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
      // 9x9 battery of 48x48 query rectangles on a 24-step lattice
      val queries = (for (i <- 0 until 9; j <- 0 until 9)
        yield (i * 24, i * 24 + 47, j * 24, j * 24 + 47)).toDF("qx0", "qx1", "qy0", "qy1")
      stats.crossJoin(queries)
        .filter(col("x1") >= col("qx0") && col("x0") <= col("qx1") &&
          col("y1") >= col("qy0") && col("y0") <= col("qy1"))
        .count().toDouble / 81.0
    }
    val zT = touched(pts.withColumn("__k", Layout.zValue2(col("x"), col("y"), 8)))
    val hT = touched(pts.withColumn("__k", Layout.hilbertValue2(col("x"), col("y"), 8)))
    println(f"[soak] hilbert_ab n=$n files=$files query=48x48: " +
      f"avg files touched morton $zT%.2f vs hilbert $hT%.2f " +
      f"(${(zT - hT) / zT * 100}%.1f%% fewer)")
    require(hT < zT,
      f"hilbert layout must prune better than morton: $hT%.2f vs $zT%.2f")
  }

  /** Per-iteration cost flatness for [[graft.operators.BpeTrain]]: train
    * `mult` merges on the sf0.1 corpus and report wall per 16-merge
    * block. Without the lineage truncation (localCheckpoint every 16)
    * the k-th iteration pays O(k) analysis on a k-deep fold plan and the
    * curve bends quadratic; with it the blocks must stay flat — the
    * 32k-merge feasibility claim in the operator's scaladoc.
    *
    * Usage: sbt "runMain graft.Soak 64 bpetrain_k" */
  private def bpeTrainK(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.BpeTrain
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val block = 16
    val blocks = math.max(1, mult / block)
    // time each block by training cumulatively and differencing: k merges
    // of a deterministic walk are a prefix of k+16's, so block i's cost =
    // t(16·(i+1)) − t(16·i) measured on separate runs would double-pay
    // the prefix; instead run ONCE with a timing hook via successive
    // prefix trainings — acceptable here because the flatness question
    // is about the MARGINAL cost at depth, which the differenced
    // cumulative walls expose the same way
    // JIT/codegen/parquet warm-up dominates cold iterations — burn off
    // one short training, then measure per-iteration walls inside ONE
    // run (cross-run cumulative differencing drowned in box noise)
    BpeTrain.learnMerges(docs, col("text"), 8)
    val iters = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    BpeTrain.learnMerges(docs, col("text"), blocks * block,
      onIteration = (k, w) => iters += ((k, w)))
    iters.grouped(block).zipWithIndex.foreach { case (g, i) =>
      val ws = g.map(_._2).sorted
      val (maxK, maxW) = g.maxBy(_._2)
      println(f"[soak] bpetrain_k block ${i + 1} (k=${g.head._1}%3d..${g.last._1}%3d): " +
        f"median ${ws(ws.size / 2)}%.3f s, max $maxW%.3f s at k=$maxK")
    }
    def median(xs: Seq[Double]) = { val s = xs.sorted; s(s.size / 2) }
    // skip the first few iterations of the measured run (residual JIT)
    val first = median(iters.slice(4, 4 + block).map(_._2).toSeq)
    val last = median(iters.takeRight(block).map(_._2).toSeq)
    require(last < first * 3 + 1.0,
      f"per-iteration cost must stay flat: early median $first%.3f s vs late $last%.3f s")
    ()
  }

  /** Sequential-vs-batched BPE training a/b — the scale claim behind
    * [[graft.operators.BpeTrain.learnMergesBatched]]: the per-merge loop
    * is JOB-dispatch-bound (~0.25 s/job floor in this sandbox, ~2 h for
    * a production 32k-merge train), so the win to measure is Spark JOBS
    * per learned merge, counted by a listener — wall clock follows jobs
    * at the dispatch floor but is noisier on a busy box.
    *
    * Two corpora, because the fixture is DEGENERATE for this question
    * (the q124/hh_ab precedent): the synthetic documents table is a
    * closed ~100-word template corpus whose pair-count plateaus are
    * chained (every "do" sits inside "dow"), so a freshly created pair
    * genuinely TIES into the plateau and wins the string tie-break —
    * exact-sequence batching provably cannot batch through that, and the
    * acceptance walk correctly degenerates to 1-2 merges/round (the
    * closed-corpus leg therefore gates EXACTNESS, and reports its fills
    * honestly). The Zipf leg is the regime production tokenizers train
    * in — an open vocabulary (md5-hex words) with 1/rank counts, where
    * top-pair count gaps dwarf 3-gram creation bounds — and there the
    * batched path must cut jobs ≥ 4×, which is what the 32k-merge
    * feasibility claim actually rests on.
    *
    * Usage: sbt "runMain graft.Soak 64 bpetrain_batch" */
  private def bpeTrainBatch(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.BpeTrain
    val k = math.max(8, mult)
    final class JobCounter extends org.apache.spark.scheduler.SparkListener {
      val n = new java.util.concurrent.atomic.AtomicInteger
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    def counted[A](body: => A): (A, Int, Double) = {
      val c = new JobCounter
      spark.sparkContext.addSparkListener(c)
      val t0 = System.nanoTime()
      val r = body
      val w = (System.nanoTime() - t0) / 1e9
      // the listener bus is async (and its drain API is private[spark]):
      // poll the counter until it stops moving before detaching
      var prev = -1
      while (prev != c.n.get()) { prev = c.n.get(); Thread.sleep(300) }
      spark.sparkContext.removeSparkListener(c)
      (r, c.n.get(), w)
    }
    def ab(label: String, docs: DataFrame, gateJobs: Boolean): Unit = {
      // warm past the first localCheckpoint (k=17): its one-time init
      // cost (~18 s measured) would otherwise be billed entirely to
      // whichever path runs first
      BpeTrain.learnMerges(docs, col("text"), 17)
      val (seqM, seqJobs, seqW) = counted(BpeTrain.learnMerges(docs, col("text"), k))
      val fills = scala.collection.mutable.ArrayBuffer.empty[Int]
      val (batM, batJobs, batW) = counted(
        BpeTrain.learnMergesBatched(docs, col("text"), k,
          onRound = (_, accepted, _) => fills += accepted))
      require(seqM == batM,
        s"EXACTNESS BROKE ($label): sequential $seqM vs batched $batM")
      println(f"[soak] bpetrain_batch $label k=$k: sequential $seqJobs jobs $seqW%.1f s; " +
        f"batched $batJobs jobs $batW%.1f s in ${fills.size} rounds " +
        f"(mean fill ${k.toDouble / fills.size}%.1f) — " +
        f"${seqJobs.toDouble / batJobs}%.1fx fewer jobs, ${seqW / batW}%.1fx wall")
      if (gateJobs) require(batJobs * 4 <= seqJobs,
        s"batched path must cut jobs >=4x on the open corpus: $batJobs vs $seqJobs")
    }
    // Open leg: 50k distinct md5-hex words, counts 1-9 — the property
    // that makes natural text batchable is that a top PAIR aggregates
    // occurrences across MANY words ("th" <- the+that+with+...) while
    // any single 3-gram context stays ~alphabet-size rarer, so creation
    // bounds sit far below top counts. (A head-heavy Zipf where one word
    // carries a pair's whole count re-creates the closed fixture\'s
    // bound==count degeneracy — measured: mean fill 2.8 — so the counts
    // here are flat-ish and the aggregation does the separating.)
    val open = spark.range(50000).selectExpr(
      "id AS doc_id",
      "array_join(array_repeat(substring(md5(cast(id AS string)), 1, 8), " +
        "cast(id % 9 + 1 AS int)), ' ') AS text")
    ab("open", open, gateJobs = true)
    ab("closed", spark.read.parquet("/root/testdata/sf0.1/documents.parquet"),
      gateJobs = false)
    ()
  }

  /** Window-vs-associative a/b behind [[graft.operators.Dedup
    * .dedupLinesAcrossCorpus]]'s `hotKeySafe` flag: a single line
    * repeated across every document makes the keep-first window's
    * partition key ONE hot partition whose local sort must see every
    * occurrence on one task — a wall that grows linearly in the hot
    * multiplicity and cannot be split. The associative form collapses
    * the hot key map-side (`min(struct)` partial combine: one row per
    * input partition reaches the shuffle) and its flagging join's
    * residual skew is AQE-splittable. This mode sweeps the hot
    * multiplicity ×1/×4/×16 (docs = 250k·mult/10 at the top step),
    * asserts both forms agree on kept-line totals at the smallest step,
    * and requires the WINDOW form's wall to grow strictly faster than
    * the associative form's across the sweep — the cliff-vs-flat claim.
    *
    * Usage: sbt "runMain graft.Soak 10 linededup_hotkey" */
  private def lineDedupHotKey(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.Dedup
    def corpus(n: Long): DataFrame = spark.range(n).selectExpr(
      "id AS doc_id",
      // every doc carries the hot boilerplate + a salted line; the hot
      // line's multiplicity == n, and it is realistic cookie-banner
      // LENGTH (~200 bytes) — the window's hot partition must receive
      // and sort n×200 B on one task, which is what actually melts an
      // executor (short hot lines hide the cliff behind the shared
      // explode/rebuild volume: measured 6.3x vs 7.3x growth, no signal)
      "concat('unique ', id, '\\n', repeat('HOT NAVIGATION BAR ', 10), " +
        "'\\nmid ', id % 1000) AS text")
    def run(df: DataFrame, hotKeySafe: Boolean): (Long, Double) = {
      val t0 = System.nanoTime()
      val kept = Dedup.dedupLinesAcrossCorpus(df, col("doc_id"), col("text"),
          hotKeySafe = hotKeySafe)
        .agg(sum("n_kept")).head().getLong(0)
      (kept, (System.nanoTime() - t0) / 1e9)
    }
    val base = 25000L * mult
    val steps = Seq(base, base * 4, base * 16)
    run(corpus(base), hotKeySafe = false) // warm both plan shapes
    run(corpus(base), hotKeySafe = true)
    val walls = steps.map { n =>
      val df = corpus(n)
      val (kw, ww) = run(df, hotKeySafe = false)
      val (ka, wa) = run(df, hotKeySafe = true)
      require(kw == ka, s"forms disagree at n=$n: window kept $kw, assoc kept $ka")
      println(f"[soak] linededup_hotkey n=$n%9d: window $ww%6.2f s, assoc $wa%6.2f s")
      (ww, wa)
    }
    val (w0, a0) = walls.head
    val (wN, aN) = walls.last
    println(f"[soak] linededup_hotkey growth x${steps.last / steps.head}: " +
      f"window ${wN / w0}%.1fx, assoc ${aN / a0}%.1fx")
    require(wN / w0 > aN / a0,
      f"window wall must grow faster than associative on the hot key: " +
        f"window ${wN / w0}%.1fx vs assoc ${aN / a0}%.1fx")
    ()
  }

  /** Hot-safe line dedup SCALE leg (VERDICT r19 #1, the ×100 curve):
    * the associative form ALONE ([[graft.operators.Dedup
    * .dedupLinesAcrossCorpus]] `hotKeySafe = true`) on the hot-banner
    * corpus at sizes where the window A/B sibling ([[lineDedupHotKey]])
    * cannot run — its hot partition is n×200 B on ONE task, ~8 GB at
    * 40M docs, which is the melt the hot-safe form exists to avoid (the
    * A/B itself is measured at 16M rows: assoc 50.5 s vs window 77.7 s,
    * growth 20.7× vs 29.0×). Gates on the closed-form kept count
    * (n unique lines + 1 hot + 1000 mid lines), prints wall growth over
    * the ×16 sweep. Usage: sbt "runMain graft.Soak 100 linededup_scale" */
  private def lineDedupScale(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.Dedup
    def corpus(n: Long): DataFrame = spark.range(n).selectExpr(
      "id AS doc_id",
      "concat('unique ', id, '\\n', repeat('HOT NAVIGATION BAR ', 10), " +
        "'\\nmid ', id % 1000) AS text")
    def run(n: Long): Double = {
      val t0 = System.nanoTime()
      val kept = Dedup.dedupLinesAcrossCorpus(corpus(n), col("doc_id"),
          col("text"), hotKeySafe = true)
        .agg(sum("n_kept")).head().getLong(0)
      require(kept == n + 1001L,
        s"closed-form kept count broke at n=$n: expected ${n + 1001L}, got $kept")
      (System.nanoTime() - t0) / 1e9
    }
    val base = 25000L * mult
    val steps = Seq(base, base * 4, base * 16)
    run(base) // warm
    val walls = steps.map { n =>
      val w = run(n)
      println(f"[soak] linededup_scale n=$n%9d: assoc $w%6.2f s")
      w
    }
    println(f"[soak] linededup_scale wall growth over x16 docs: " +
      f"${walls.last / walls.head}%.1fx")
  }

  /** Capped-vs-uncapped a/b behind [[graft.operators.Dedup
    * .exactSubstringSelfRuns]]'s `dfCap` stop-shingle escape hatch (the
    * q145 gate's scale claim): every doc opens with the same 11-token
    * banner, so 4 of its 8-token shingles are pure banner and collide
    * across EVERY doc pair — the uncapped self-join materializes
    * n·(n−1)/2 pair-islands from the banner alone (verified closed-form
    * at the smallest step), quadratic in the corpus. `dfCap = 50` drops
    * the banner shingles before the join; the per-doc remainder is
    * unique, so the capped leg's match table is EMPTY and its wall is
    * the linear shingling scan. The sweep doubles n twice and requires
    * the uncapped wall to grow strictly faster — the cliff-vs-flat
    * claim, same discipline as linededup_hotkey.
    *
    * Usage: sbt "runMain graft.Soak 1 exactsub_hotshingle" */
  /** The shared hot-shingle corpus: every doc opens with the same
    * 11-token banner (+ the shared literals `doc`/`body`/`tail`), then
    * md5 uniqueness — the Zipfian head that makes any pairwise shingle
    * join quadratic by construction. */
  private def hotShingleCorpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).selectExpr(
      "id AS doc_id",
      "concat('please accept our cookie policy to continue reading this site today ', " +
        "'doc ', id, ' body ', md5(cast(id AS string)), " +
        "' tail ', md5(cast(id * 7 + 1 AS string))) AS text")

  /** duplicatedSpans vs the pair self-join on [[hotShingleCorpus]] —
    * the r19 suffix-array sibling's scaladoc claim MEASURED: n docs
    * share the banner, so the uncapped pair join's banner output is
    * n(n−1)/2 rows by construction while the span report is ONE row
    * per document (the banner island: matched shingle positions 1–5 →
    * pos 1, run_len 12, closed-form asserted every step). Gate: on the
    * common size steps, the span wall must grow strictly slower than
    * the pair wall, and the span output stays exactly n rows at every
    * step — linear at ANY skew, no dfCap needed. */
  private def spansSkew(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.Dedup
    def timeIt[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val base = 1000L * mult
    val steps = Seq(base, base * 2, base * 4)
    def spansOf(df: DataFrame) = Dedup.duplicatedSpans(
      df, col("doc_id"), col("text"), minRun = 8)
    // warm both shapes
    spansOf(hotShingleCorpus(spark, base)).count()
    Dedup.exactSubstringSelfRuns(hotShingleCorpus(spark, base),
      col("doc_id"), col("text"), minRun = 8).count()
    // PRIMARY gate = the closed-form row counts (n spans vs n(n−1)/2
    // pairs), asserted unconditionally below — those are load-immune.
    // The wall-clock growth comparison is SECONDARY evidence in a
    // sandbox with ±50% background-load bursts (ADVICE r19): each step
    // takes best-of-2 walls, and a failed growth gate earns one full
    // re-measurement (min of both sweeps) before it is allowed to fail
    // — at the small base sizes fixed overhead dominates the span path
    // and a single contaminated sample can flip the ratio either way.
    def sweep(): Seq[(Double, Double)] = steps.map { n =>
      val df = hotShingleCorpus(spark, n)
      val (spanRows, ws1) = timeIt(spansOf(df).count())
      require(spanRows == n,
        s"span report must be one banner island per doc: expected $n, got $spanRows")
      val ws = math.min(ws1, timeIt(spansOf(df).count())._2)
      val one = spansOf(df).filter(col("doc_id") === 1L)
        .select("pos", "run_len").collect().map(r => (r.getLong(0), r.getLong(1)))
      require(one.toSeq == Seq((1L, 12L)),
        s"banner island must be (pos 1, run_len 12): ${one.toSeq}")
      def pairRun() = timeIt(Dedup.exactSubstringSelfRuns(
        df, col("doc_id"), col("text"), minRun = 8).count())
      val (pairRows, wp1) = pairRun()
      require(pairRows == n * (n - 1) / 2,
        s"pair banner output must be quadratic: expected ${n * (n - 1) / 2}, got $pairRows")
      val wp = math.min(wp1, pairRun()._2)
      println(f"[soak] spans_skew n=$n%7d: spans $ws%6.2f s ($spanRows%7d rows), " +
        f"pairs $wp%6.2f s ($pairRows%9d rows)")
      (ws, wp)
    }
    def growth(walls: Seq[(Double, Double)]): (Double, Double) = {
      val (s0, p0) = walls.head
      val (sN, pN) = walls.last
      (sN / s0, pN / p0)
    }
    var walls = sweep()
    var (gs, gp) = growth(walls)
    if (gs >= gp) {
      println(f"[soak] spans_skew growth gate marginal (spans $gs%.1fx vs " +
        f"pairs $gp%.1fx) — re-measuring once against background load")
      val retry = sweep()
      walls = walls.zip(retry).map { case ((a, b), (c, d)) =>
        (math.min(a, c), math.min(b, d))
      }
      val g2 = growth(walls); gs = g2._1; gp = g2._2
    }
    println(f"[soak] spans_skew growth x${steps.last / steps.head}: " +
      f"spans $gs%.1fx, pairs $gp%.1fx")
    require(gs < gp,
      f"span wall must grow slower than the quadratic pair wall: " +
        f"spans $gs%.1fx vs pairs $gp%.1fx")
    ()
  }

  /** Span-form SCALE leg (VERDICT r19 #1, the ×100 curve): run
    * [[graft.operators.Dedup.duplicatedSpans]] ALONE on
    * [[hotShingleCorpus]] at production-scale doc counts (base =
    * 1000·mult, doubled twice). The pair join is deliberately absent
    * from this leg: its banner output is n(n−1)/2 rows by CLOSED FORM —
    * [[spansSkew]]'s measured 4k→16k A/B put it at 143 s / 128M rows at
    * 16k docs, and the same law prices 400k docs at ~80G rows / hours —
    * the infeasibility IS the measurement. Gates on the closed-form row
    * count (one banner island per doc, load-immune); the wall growth
    * across the ×4 doubling is printed as the linearity evidence.
    * Usage: sbt "runMain graft.Soak 100 spans_scale" */
  private def spansScale(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.Dedup
    val base = 1000L * mult
    val steps = Seq(base, base * 2, base * 4)
    def spansOf(n: Long) = Dedup.duplicatedSpans(
      hotShingleCorpus(spark, n), col("doc_id"), col("text"), minRun = 8)
    spansOf(base).count() // warm (JIT/codegen)
    val walls = steps.map { n =>
      val w = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val rows = spansOf(n).count()
        require(rows == n,
          s"span report must stay one banner island per doc: expected $n, got $rows")
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[soak] spans_scale n=$n%8d: $w%6.2f s")
      w
    }
    println(f"[soak] spans_scale wall growth over x4 docs: " +
      f"${walls.last / walls.head}%.2fx")
  }

  private def exactSubHotShingle(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.Dedup
    def corpus(n: Long): DataFrame = hotShingleCorpus(spark, n)
    def run(df: DataFrame, cap: Option[Long]): (Long, Double) = {
      val t0 = System.nanoTime()
      val rows = Dedup.exactSubstringSelfRuns(df, col("doc_id"), col("text"),
        minRun = 8, dfCap = cap).count()
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    val base = 1000L * mult
    val steps = Seq(base, base * 2, base * 4)
    run(corpus(base), None); run(corpus(base), Some(50L)) // warm both shapes
    val walls = steps.map { n =>
      val df = corpus(n)
      val (ru, wu) = run(df, None)
      val (rc, wc) = run(df, Some(50L))
      require(ru == n * (n - 1) / 2,
        s"uncapped banner pairs must be quadratic: expected ${n * (n - 1) / 2}, got $ru")
      require(rc == 0L, s"capped run table must be empty, got $rc")
      println(f"[soak] exactsub_hotshingle n=$n%7d: uncapped $wu%6.2f s ($ru%9d rows), capped $wc%6.2f s")
      (wu, wc)
    }
    val (u0, c0) = walls.head
    val (uN, cN) = walls.last
    println(f"[soak] exactsub_hotshingle growth x${steps.last / steps.head}: " +
      f"uncapped ${uN / u0}%.1fx, capped ${cN / c0}%.1fx")
    require(uN / u0 > cN / c0,
      f"uncapped wall must grow faster than capped on the hot shingle: " +
        f"uncapped ${uN / u0}%.1fx vs capped ${cN / c0}%.1fx")
    ()
  }

  /** Boilerplate removal vs keep-first window on the SAME hot-line corpus
    * (lineDedupHotKey's shape: every doc carries a ~200 B nav bar, so the
    * window form funnels n×200 B through one task). The a/b is STRUCTURAL,
    * not semantic — the operators answer different questions (keep-first
    * vs remove-all) — but they process the identical line volume, and the
    * claim under test is [[graft.operators.Dedup.removeBoilerplateLines]]'s
    * scaladoc: the broadcast anti join has NO hot partition anywhere, so
    * its wall must grow like the line volume while the window's grows
    * like the hot partition. Keeps are closed-form asserted each step
    * (n unique lines survive; nav bar and mid-frequency lines go).
    *
    * Usage: sbt "runMain graft.Soak 10 boilerplate_hot" */
  private def boilerplateHot(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.Dedup
    def corpus(n: Long): DataFrame = spark.range(n).selectExpr(
      "id AS doc_id",
      "concat('unique ', id, '\\n', repeat('HOT NAVIGATION BAR ', 10), " +
        "'\\nmid ', id % 1000) AS text")
    def runWindow(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      Dedup.dedupLinesAcrossCorpus(df, col("doc_id"), col("text"))
        .agg(sum("n_kept")).head().getLong(0)
      (System.nanoTime() - t0) / 1e9
    }
    def runBoiler(df: DataFrame, n: Long): Double = {
      val t0 = System.nanoTime()
      val kept = Dedup.removeBoilerplateLines(df, col("doc_id"), col("text"),
          lit("all"), minDocs = 4L)
        .agg(sum("n_kept")).head().getLong(0)
      require(kept == n, s"expected the $n unique lines to survive, got $kept")
      (System.nanoTime() - t0) / 1e9
    }
    val base = 25000L * mult
    val steps = Seq(base, base * 4, base * 16)
    runWindow(corpus(base)); runBoiler(corpus(base), base) // warm
    val walls = steps.map { n =>
      val df = corpus(n)
      val ww = runWindow(df)
      val wb = runBoiler(df, n)
      println(f"[soak] boilerplate_hot n=$n%9d: window $ww%6.2f s, boiler $wb%6.2f s")
      (ww, wb)
    }
    val (w0, b0) = walls.head
    val (wN, bN) = walls.last
    println(f"[soak] boilerplate_hot growth x${steps.last / steps.head}: " +
      f"window ${wN / w0}%.1fx, boiler ${bN / b0}%.1fx")
    require(wN / w0 > bN / b0,
      f"window wall must grow faster than the broadcast anti join on the hot line: " +
        f"window ${wN / w0}%.1fx vs boiler ${bN / b0}%.1fx")
    ()
  }

  /** Model-width scaling for [[graft.operators.TextAnalysis
    * .logisticTrainHashed]] — the claim behind the weight-as-a-TABLE
    * design: training wall must be governed by the feature-pair volume
    * (corpus-sized, constant across dims), NOT by the model width,
    * because the weight relation only ever joins and never collects.
    * A driver-array trainer would pay O(dims) per iteration in
    * transfer + literal folding; this one sweeps dims 64 → 4096 → 262144
    * over the same corpus and requires the widest model to cost < 2×
    * the narrowest (the occupied-bucket table is bounded by the
    * corpus's distinct (doc, bucket) pairs either way — at production
    * vocab sizes the sweep's upper end is a million-bucket model).
    *
    * Usage: sbt "runMain graft.Soak 10 hashedlr_dims" */
  private def hashedLrDims(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.TextAnalysis
    val docs = (1 to mult * 5000).map { i =>
      (i.toLong, s"tok${i % 997} tok${(i * 7) % 997} tok${(i * 13) % 997} filler common",
        (i % 2).toDouble)
    }
    val df = spark.createDataFrame(docs).toDF("id", "text", "y").repartition(16)
    df.cache(); df.count()
    def run(dims: Int): Double = {
      val t0 = System.nanoTime()
      TextAnalysis.logisticTrainHashed(df, col("id"), col("text"), col("y"),
        dims = dims, iters = 3, lr = 0.5).count()
      (System.nanoTime() - t0) / 1e9
    }
    run(64) // warm
    val walls = Seq(64, 4096, 262144).map { d =>
      val w = run(d)
      println(f"[soak] hashedlr_dims dims=$d%7d: $w%6.2f s")
      (d, w)
    }
    val narrow = walls.head._2
    val wide = walls.last._2
    require(wide < narrow * 2 + 1.0,
      f"training wall must not scale with model width: $narrow%.2f s at 64 vs $wide%.2f s at 262144")
    df.unpersist()
    ()
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
    * Two legs, because the fixture is DEGENERATE for this question (the
    * bpetrain_batch/hh_ab precedent): the sf0.1 embeddings are uniform
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
  /** (qid → answer set) for recall comparisons — shared by the
    * ann_recall and index_drift soaks so both measure ONE definition. */
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

  /** Open-vocabulary a/b behind q124's scale claim: exact top-n must
    * shuffle one row per DISTINCT token, the Misra–Gries sketch shuffles
    * ≤cap counters per partition. On the fixture's closed 31-word
    * vocabulary the two are indistinguishable, so this mode OPENS the
    * vocabulary (every non-stopword salted by `doc_id % (mult·20000)` —
    * the URL/identifier regime) while keeping six global stopwords as
    * the true heavy hitters, then profiles both plans end-to-end and
    * asserts they find the same leaders. The interesting number is the
    * shuffle volume ratio, not the wall (at sf-scale both fit in
    * memory; at 100 TB only the cap-bounded one does).
    *
    * Usage: sbt "runMain graft.Soak 30 hh_ab" */
  private def hhAb(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.ApproxOps
    val src = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val salt = mult * 20000
    val hot = Seq("the", "a", "and", "of", "to", "in")
    val docs = (0 until mult).map(i => src.select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"), col("text")))
      .reduce(_ unionAll _)
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(when(col("w").isInCollection(hot), col("w"))
        .otherwise(concat(col("w"), lit("_"),
          (col("doc_id") % salt).cast("string"))).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = toks.count()
    def exact = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(20)
    def mg = ApproxOps.heavyHitters(toks, col("w"), cap = 64)
      .orderBy(col("est").desc, col("token")).limit(20)
    exact.collect(); mg.collect() // codegen/JIT warm-up
    val (_, pe) = Profiling.profiled(spark, "hh_exact") {
      val r = exact.collect(); (r, r.length.toLong)
    }
    val (_, pm) = Profiling.profiled(spark, "hh_mg") {
      val r = mg.collect(); (r, r.length.toLong)
    }
    // guarantee end-to-end (untimed): every token above the N/(cap+1)
    // threshold must appear in the FULL sketch with est in
    // [true − N/(cap+1), true] — on real skew, not a fixture
    val bound = n / 65
    val trueCounts = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .filter(col("c") > bound).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketch = ApproxOps.heavyHitters(toks, col("w"), cap = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    trueCounts.foreach { case (t, c) =>
      require(sketch.contains(t), s"$t (count $c > $bound) missing from sketch")
      require(sketch(t) <= c && sketch(t) >= c - bound,
        s"$t estimate ${sketch(t)} outside [${c - bound}, $c]")
    }
    println(f"[soak] hh_ab x$mult ($n tokens, ~${31L * salt} vocab): " +
      f"exact ${pe.wallSec}%.2f s / ${pe.shuffleReadBytes / 1024}%d KiB shuffled, " +
      f"mg ${pm.wallSec}%.2f s / ${pm.shuffleReadBytes / 1024}%d KiB shuffled, " +
      f"shuffle ratio ${pe.shuffleReadBytes.toDouble / math.max(pm.shuffleReadBytes, 1)}%.0fx")
    toks.unpersist(blocking = false)
    ()
  }

  /** Interpreted-HOF vs native `top_run` a/b for the Gopher battery's
    * argmax gram (the round-10 verdict's watch item): the SAME
    * top-2/3/4-gram fractions over the ×mult corpus, (a) with the
    * pre-round-11 `aggregate` fold, (b) with the native expression the
    * battery now uses. Interleaved best-of-2 each, one session, so the
    * box's load noise hits both sides alike.
    *
    * Usage: sbt "runMain graft.Soak 30 gopher_ab" */
  private def gopherAb(spark: SparkSession, mult: Int): Unit = {
    import graft.functions.TextOps
    val src = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val docs = (0 until mult).map(i => src.select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"), col("text")))
      .reduce(_ unionAll _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = docs.count()
    def hofFold(sortedGrams: org.apache.spark.sql.Column) =
      aggregate(sortedGrams,
        struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best"), lit("").as("bg")),
        (acc, g) => {
          val run = when(g === acc("prev"), acc("run") + 1).otherwise(lit(1))
          struct(g.as("prev"), run.as("run"),
            when(run > acc("best"), run).otherwise(acc("best")).as("best"),
            when(run > acc("best"), g).otherwise(acc("bg")).as("bg"))
        })
    def frac(folded: org.apache.spark.sql.Column) =
      folded("best") * length(folded("bg")) / length(col("text")).cast("double")
    def run(kind: String, top: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Double = {
      val toks = TextOps.tokens(col("text"))
      val t0 = System.nanoTime()
      docs.select((2 to 4).map(k =>
          frac(top(array_sort(TextOps.shinglesNative(toks, k)))).as(s"f$k")): _*)
        .agg(sum(col("f2") + col("f3") + col("f4"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    run("warm", graft.plans.GraftFunctions.topRun) // JIT/codegen warm-up
    val pairs = (1 to 2).map { _ =>
      (run("hof", hofFold), run("native", graft.plans.GraftFunctions.topRun))
    }
    val (hof, native) = (pairs.map(_._1).min, pairs.map(_._2).min)
    println(f"[soak] gopher_ab x$mult ($n docs): hof_fold $hof%.2f s, " +
      f"native_top_run $native%.2f s, speedup ${hof / native}%.1fx")
    docs.unpersist(blocking = false)
    ()
  }

  /** The Σ nᵢ² evidence behind SemDedup's cluster-bounded claim
    * ([[graft.operators.Similarity.semDedupDropped]]): on the ×mult
    * embeddings corpus, sweep the centroid count k and measure the pair
    * volume (Σ nᵢ² over the cluster sizes, computed UNTIMED) against the
    * operator wall. The design point says pairwise work is n²/k-shaped:
    * quadrupling k must cut Σ nᵢ² by roughly 4× — asserted monotone
    * here, which is exactly the "choose k so Σ nᵢ² is tractable" lever a
    * 100 TB run turns. The WALL is deliberately not asserted monotone:
    * it follows Σ nᵢ² until the O(n·k) assignment pass (every vector
    * scored against every centroid) takes over, so the sweep traces the
    * classic IVF U-curve (×30 measured: k=64 5.6 s, k=256 3.6 s, k=1024
    * 11.9 s) — production picks k near the trough, k ≈ √(n²/assignment
    * cost ratio), or replaces exact assignment with an ANN probe. Each
    * result is unpersisted per the operator's caller contract (this loop
    * is the accumulation scenario the contract exists for).
    *
    * Usage: sbt "runMain graft.Soak 30 semdedup_k" */
  private def semDedupK(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.Similarity
    // self-contained ×mult corpus (same vec_id shift as the table
    // replication; no parquet round-trip needed for an in-memory sweep)
    val src = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val e = (0 until mult).map(i => src.select(
        (col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
        col("embedding").cast("array<double>").as("e")))
      .reduce(_ unionAll _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = e.count()
    println(s"[soak] semdedup_k: $n vectors; k, sum_ni2, max_cluster, dropped, wall_s")
    val results = Seq(64, 256, 1024).map { k =>
      val centroids = e.filter(col("vec_id") < k)
      // pair volume, untimed (the operator recomputes its own assignment)
      val sizes = Similarity.ivfAssign(e, centroids).groupBy("cid")
        .agg(count(lit(1)).as("c"))
      val Array(ni2, maxC) = sizes
        .agg(sum(col("c") * col("c")), max(col("c"))).head() match {
          case r => Array(r.getLong(0), r.getLong(1))
        }
      val t0 = System.nanoTime()
      val dropped = Similarity.semDedupDropped(e, centroids, tau = 0.4)
      val nDropped = dropped.count()
      val wall = (System.nanoTime() - t0) / 1e9
      dropped.unpersist(blocking = false) // the documented caller contract
      println(f"[soak] semdedup_k $k%5d $ni2%12d $maxC%8d $nDropped%8d $wall%.2f")
      (k, ni2, wall)
    }
    results.sliding(2).foreach { case Seq((k1, p1, _), (k2, p2, _)) =>
      require(p2 < p1,
        s"sum n_i^2 must fall as k rises: k=$k1 -> $p1, k=$k2 -> $p2")
    }
    e.unpersist(blocking = false)
    ()
  }

  /** GROWING-corpus soak for [[graft.operators.Dedup.incrementalNearDups]]
    * — the measured curve behind the "corpus side is map-only" claim:
    * day d ingests a constant-size batch against a corpus that has
    * absorbed every previous day, with the signature table read from
    * DISK each morning and the day's new signatures APPENDED back (the
    * production cycle — the corpus text is never re-read, the signature
    * table is never rewritten). Per-day wall should grow like one
    * map-only scan of the signature table, nothing steeper.
    *
    * Batch content is day-salted synthetic text (every token carries the
    * day, so novel docs collide with nothing across days) plus a
    * constant planted-twin slice: the first `twinN` docs of day d copy
    * day d−1's NON-twin docs verbatim, so every day yields EXACTLY
    * `twinN` est=1.0 pairs (asserted) — output volume stays flat and
    * the trend isolates corpus growth, not pair growth.
    *
    * Usage: sbt "runMain graft.Soak 30 incr_days" (first arg = days). */
  private def incrDays(spark: SparkSession, days: Int, out: String): Unit = {
    import graft.operators.Dedup
    val batchN = 20000L
    val twinN = 1000L
    val sigDir = s"$out/incr_days_sigs.parquet"
    // modulus must dwarf batchN: a modulus near the batch size aliases
    // id and id+modulus into accidental exact twins (every token equal)
    def text(d: Int, id: org.apache.spark.sql.Column) =
      concat_ws(" ", (0 until 40).map(k =>
        concat(lit(s"d${d}w${k}u"), pmod(id * 31 + lit(k * 7), lit(1000003)))): _*)
    def batch(d: Int): DataFrame = spark.range(batchN).select(
      (lit(d.toLong * 10000000L) + col("id")).as("doc_id"),
      when(col("id") < twinN && lit(d > 0), text(d - 1, col("id") + twinN))
        .otherwise(text(d, col("id"))).as("text"))
    // day 0 seeds the corpus (untimed, like the pre-existing table)
    Dedup.minHashSignaturesNative(batch(0), col("doc_id"), col("text"))
      .write.mode(SaveMode.Overwrite).parquet(sigDir)
    println("[soak] incr_days: day, corpus_sigs, pairs, wall_s")
    (1 to days).foreach { d =>
      spark.sharedState.cacheManager.clearCache()
      val b = batch(d)
      val t0 = System.nanoTime()
      val corpusSigs = spark.read.parquet(sigDir)
      val (pairs, _) = Dedup.incrementalNearDups(
        b, col("doc_id"), col("text"), corpusSigs)
      val nPairs = pairs.count()
      // production's append: ONLY the day's new signatures hit the table
      Dedup.minHashSignaturesNative(b, col("doc_id"), col("text"))
        .write.mode(SaveMode.Append).parquet(sigDir)
      val wall = (System.nanoTime() - t0) / 1e9
      pairs.unpersist(blocking = false)
      val corpusRows = d.toLong * batchN // before today's append
      require(nPairs == twinN,
        s"day $d: expected exactly $twinN planted twin pairs, got $nPairs")
      println(f"[soak] incr_days $d%2d $corpusRows%9d $nPairs%6d $wall%.2f")
    }
  }

  /** DAY-OVER-DAY novelty from persisted mergeable sketches — the soak
    * curve behind q111's gate: each day builds a bottom-k KMV sketch of
    * ITS OWN trigrams only (one constant-size batch scan) and appends the
    * k rows to a sketch table; the cumulative distinct-trigram estimate
    * is then re-derived every day by merging SKETCH ROWS alone (≤ k·d
    * rows — never re-aggregating prior days' text). Per-day wall should
    * stay flat: the raw-data side is one batch, the history side is a
    * k·d-row bottom-k. Day content mixes day-salted tokens (novel
    * trigrams) with a day-independent common slice, so the curve
    * saturates like a real crawl instead of growing linearly.
    *
    * Accuracy is pinned ONCE, outside the timed loop: the final
    * estimate must sit within the k=256 sketch's sampling error of the
    * exact distinct count over the regenerated corpus (the only full
    * re-aggregation in the soak — q111 pins bit-level mergeability at
    * sf0.01; this pins the estimator at ×`days` scale).
    *
    * Usage: sbt "runMain graft.Soak 30 sketch_days" (first arg = days). */
  private def sketchDays(spark: SparkSession, days: Int, out: String): Unit = {
    import graft.operators.ApproxOps
    val batchN = 20000L
    val k = 256
    val skDir = s"$out/sketch_days_sketches.parquet"
    def text(d: Int, id: org.apache.spark.sql.Column) =
      concat_ws(" ", (0 until 40).map(j =>
        concat(lit(s"d${d}w${j}u"), pmod(id * 31 + lit(j * 7), lit(1000003)))): _*)
    // day-independent slice: every 4th doc draws from a shared vocabulary
    def common(id: org.apache.spark.sql.Column) =
      concat_ws(" ", (0 until 40).map(j =>
        concat(lit(s"cw${j}u"), pmod(id * 17 + lit(j * 3), lit(997)))): _*)
    def batch(d: Int): DataFrame = spark.range(batchN).select(
      (lit(d.toLong * 10000000L) + col("id")).as("doc_id"),
      when(col("id") % 4 === 0, common(col("id")))
        .otherwise(text(d, col("id"))).as("text"))
    def trigrams(df: DataFrame): DataFrame = df.select(
      explode(graft.functions.TextOps.shinglesNative(
        graft.functions.TextOps.tokens(col("text")), 3)).as("w"))
    println("[soak] sketch_days: day, sketch_rows, est_cum, wall_s")
    var lastEst = 0.0
    (0 until days).foreach { d =>
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      ApproxOps.kmvSketch(trigrams(batch(d)), lit(d), col("w"), k)
        .write.mode(if (d == 0) SaveMode.Overwrite else SaveMode.Append)
        .parquet(skDir)
      val hist = spark.read.parquet(skDir)
      val est = ApproxOps.kmvMerge(hist.select(lit(1).as("grp"), col("h")), k)
        .groupBy("grp").agg(count(lit(1)).as("n"), max("h").as("hmax"))
        .select(ApproxOps.kmvEstimate(col("n"), col("hmax"), k).as("est"))
        .collect()(0).getDouble(0)
      val wall = (System.nanoTime() - t0) / 1e9
      lastEst = est
      println(f"[soak] sketch_days $d%2d ${(d + 1).toLong * k}%7d $est%12.0f $wall%.2f")
    }
    // exact parity, untimed: KMV standard error is ~1/sqrt(k−2) ≈ 6.3%
    // at k=256; gate at 4 sigma
    val exact = trigrams((0 until days).map(batch).reduce(_ unionAll _))
      .distinct().count()
    val rel = math.abs(lastEst - exact) / exact
    require(rel < 4.0 / math.sqrt(k - 2.0),
      f"kmv estimate off: est $lastEst%.0f vs exact $exact (rel $rel%.4f)")
    println(f"[soak] sketch_days final: est $lastEst%.0f exact $exact rel_err $rel%.4f")
  }

  /** Join-then-max vs union-sort as-of on a POWER-LAW key
    * ([[graft.operators.AsOf.lastEventBefore]] — the r11 verdict's one
    * named as-of scale risk): one hot user carries n views AND n/10
    * probes, so the contract join form materializes n²/10 intermediate
    * rows per step while the union form sorts 1.1n. Sweeps n ×1/×4,
    * requires identical answers and the join form's wall growing faster
    * than the union form's (quadratic vs linear separation).
    *
    * Usage: sbt "runMain graft.Soak 10 asof_hotuser" */
  private def asofHotUser(spark: SparkSession, mult: Int): Unit = {
    import graft.operators.AsOf
    def views(n: Long): DataFrame = spark.range(n).selectExpr(
      "42L AS user_id", "timestamp_micros(1700000000000000 + id * 1000) AS ts")
    def probes(n: Long): DataFrame = spark.range(n / 10).selectExpr(
      "id AS event_id", "42L AS user_id",
      "timestamp_micros(1700000000000500 + id * 10000) AS ts")
    def run(n: Long, union: Boolean): (Long, Double) = {
      val (p, v) = (probes(n), views(n))
      val t0 = System.nanoTime()
      val sum =
        if (union)
          AsOf.lastEventBefore(p, col("user_id"), col("ts"), col("event_id"),
              v, col("user_id"), col("ts"))
            .agg(sum_distinct(col("id")) + count(col("last_ts"))).head().getLong(0)
        else
          p.as("p").join(v.as("v"), col("p.user_id") === col("v.user_id") &&
              col("v.ts") < col("p.ts"), "left")
            .groupBy(col("p.event_id")).agg(max(col("v.ts")).as("last_ts"))
            .agg(sum_distinct(col("event_id")) + count(col("last_ts"))).head().getLong(0)
      (sum, (System.nanoTime() - t0) / 1e9)
    }
    val base = 10000L * mult
    run(base, union = true); run(base, union = false) // warm both shapes
    val walls = Seq(base, base * 4).map { n =>
      val (sj, wj) = run(n, union = false)
      val (su, wu) = run(n, union = true)
      require(sj == su, s"forms disagree at n=$n: join $sj union $su")
      println(f"[soak] asof_hotuser n=$n%9d: join $wj%6.2f s, union $wu%6.2f s")
      (wj, wu)
    }
    val (j0, u0) = walls.head
    val (jN, uN) = walls.last
    println(f"[soak] asof_hotuser growth x4: join ${jN / j0}%.1fx, union ${uN / u0}%.1fx")
    require(jN / j0 > uN / u0,
      f"join-then-max must grow faster on the hot key: ${jN / j0}%.1fx vs ${uN / u0}%.1fx")
    ()
  }

  /** Q11's scale-killer vs its q146 sibling, MEASURED: the contract's
    * global `ntile(16) OVER (ORDER BY value, id)` funnels every row
    * through ONE partition's sort (the one perf-weak plan in the gated
    * surface, carried since r11), while
    * [[graft.operators.Discretize.ntileRangeRank]] range-partitions the
    * same total order across all cores. Both forms must bucket
    * IDENTICALLY (checksum-asserted per size — ties broken by the
    * unique id, so the total order is well-defined); the a/b reports
    * wall at two sizes a 4x step apart and requires the range form to
    * win outright at the larger one — the window form sorts n rows on
    * one thread, the range form n/32 rows on each of 32.
    *
    * Usage: sbt "runMain graft.Soak 30 discretize_ab" */
  private def discretizeAb(spark: SparkSession, mult: Int): Unit = {
    // ~120 distinct values per 100k rows → heavy ties, the hard case for
    // bucket-boundary agreement between the two forms
    def corpus(n: Long): DataFrame = spark.range(n).select(
      col("id"), pmod(xxhash64(col("id")), lit(n / 831L + 2L)).as("value"))
    def run(n: Long, range: Boolean): (Long, Double) = {
      // ntileRangeRank persists its range-partitioned view; time a fresh
      // build, not a cache scan (same discipline as the main soak loop)
      spark.sharedState.cacheManager.clearCache()
      val df = corpus(n)
      val t0 = System.nanoTime()
      val bucketed =
        if (range) graft.operators.Discretize.ntileRangeRank(df, 16, col("value"), col("id"))
        else df.withColumn("bucket", ntile(16).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("value"), col("id"))))
      val r = bucketed.agg(
        sum(col("bucket") * col("id")).cast("long").as("cs"),
        sum(col("bucket")).cast("long").as("s")).head()
      (r.getLong(0) + 31L * r.getLong(1), (System.nanoTime() - t0) / 1e9)
    }
    val base = 100000L * mult
    run(base, range = true); run(base, range = false) // warm both shapes
    val walls = Seq(base, base * 4).map { n =>
      val (cw, ww) = run(n, range = false)
      val (cr, wr) = run(n, range = true)
      require(cw == cr, s"forms disagree at n=$n: window $cw range $cr")
      println(f"[soak] discretize_ab n=$n%9d: window-ntile $ww%6.2f s, range-rank $wr%6.2f s")
      (ww, wr)
    }
    val (wN, rN) = walls.last
    println(f"[soak] discretize_ab at n=${base * 4}: range-rank is ${wN / rN}%.1fx the window form")
    require(rN < wN,
      f"range-rank must beat the single-partition window sort at n=${base * 4}: $rN%.2f vs $wN%.2f s")
    ()
  }

  /** ARTIFACT DRIFT for the vector index — the measured answer to the
    * question [[graft.operators.Similarity.indexIngest]]'s scaladoc
    * raises: how much recall does the no-retrain ingest path give up
    * when the corpus distribution MOVES, and does recentering recover
    * it? Corpus A (16 Gaussian clusters) trains the artifacts; corpus
    * B arrives from 16 UNSEEN clusters; queries come from B's
    * distribution with exact ground truth over A∪B. `stale` searches
    * codes produced under A's centroids + codebook (what pure
    * indexIngest accumulates); `recentered` retrains the centroids on
    * A∪B (Lloyd — the codebook reseeds from a window straddling both
    * distributions, since the init-only codebook is id-determined).
    * Gate: recentered recall must strictly beat stale on the drifted
    * queries — the cadence argument for periodic recenters.
    *
    * Usage: sbt "runMain graft.Soak 1 index_drift" */
  private def indexDrift(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.operators.Similarity
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val dim = 64; val k = 10; val kc = 16; val m = 8
    def corpus(n: Int, centerSeed: Long, idBase: Long): DataFrame =
      spark.range(n.toLong).as[Long].map { i =>
        val rc = new scala.util.Random(centerSeed + (i % kc))
        val center = Array.fill(dim)(rc.nextGaussian())
        val rv = new scala.util.Random(centerSeed + 777000L + idBase + i)
        val v = center.map(x => x + 0.5 * rv.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        (idBase + i, v.map(_ / norm).toSeq)
      }.toDF("vec_id", "e")
    val a = corpus(2000, 9000L, 0L)
    val b = corpus(2000, 555000L, 2000L) // 16 clusters the index never saw
    val all = a.unionAll(b).persist(); all.count()
    val queries = b.filter(col("vec_id") % 40 === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    val exactL2 = topSet(queries.select(col("vec_id").as("qid"), col("e").as("qe"))
      .join(broadcast(all), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.plans.GraftFunctions.l2Distance(col("qe"), col("e")).as("adist"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= k))
    // the production layout (q149/q151): residual-encoded IVFADC — the
    // residual codebook is what drift hits hardest (B residuals vs A's
    // centroids are large and out-of-distribution)
    def recallOf(centroids: DataFrame, cbFrom: Long, nprobe: Int): Double = {
      val assign = Similarity.ivfAssign(all, centroids)
      val recon = Similarity.ivfResidualReconstruct(all, assign, centroids,
        m, ksub = 16, dim = dim, cbFrom = cbFrom)
      recallVs(exactL2, topSet(
        Similarity.ivfPqTopK(assign, recon, centroids, queries, k, nprobe = nprobe)))
    }
    // stale: artifacts as corpus A trained them (kc=16 Lloyd on A,
    // residual codebook seeded wholly inside A); recentered: the
    // production response to a DOUBLED cluster count — Lloyd on A∪B at
    // kc=32, codebook reseeded from a window straddling the boundary
    // (8 ids each side). Probe fraction held at 1/4 of buckets.
    val staleC = Similarity.trainCentroids(a, kc, iters = 10, dim = dim)
    val stale = recallOf(staleC, 0L, nprobe = 4)
    // trainCentroids seeds Lloyd from the k LOWEST vec_ids — on `all`
    // those are ids 0..31, every one inside corpus A, so a "recenter"
    // would start from an all-A init and rely on 10 iterations to
    // migrate. Interleave ids for the TRAINING view only (even = A,
    // odd = B) so the 32 seeds cover one point of every true cluster
    // across both distributions — what a production recenter's k-means++
    // style init achieves; centroid ids are reassigned 0..k-1 anyway
    val interleaved = all.withColumn("vec_id",
      when(col("vec_id") >= 2000L, (col("vec_id") - 2000L) * 2 + 1)
        .otherwise(col("vec_id") * 2))
    val recentered = recallOf(
      Similarity.trainCentroids(interleaved, 2 * kc, iters = 10, dim = dim),
      1992L, nprobe = 8)
    // the PRINCIPLED recenter: k-means|| seeding (q155) needs no id
    // games — the oversampling rounds find B's mass because B's points
    // are far from every A candidate (that is the d²-weighted sampling's
    // whole job), then Lloyd refines. This is what a production recenter
    // actually runs; the interleave leg above documents what the init
    // must achieve, this leg achieves it from the data alone.
    val scalableC = Similarity.trainCentroidsFrom(all,
      Similarity.scalableInitCentroids(all, k = 2 * kc, rounds = 3, l = 16),
      iters = 10, dim = dim)
    val recenteredScalable = recallOf(scalableC, 1992L, nprobe = 8)
    println(f"[soak] index_drift recall@$k on drifted queries: " +
      f"stale $stale%.3f, recentered(interleave) $recentered%.3f, " +
      f"recentered(kmeans||) $recenteredScalable%.3f")
    // VALIDITY AUDIT — the q165/q168 operators run as the drift-decision
    // instruments they exist to be. Internal: corpus-weighted mean
    // simplified silhouette (needs NO labels — the signal a production
    // recenter trigger can actually compute). External: ARI of the IVF
    // assignment against the generator's true center index (known only
    // in this fixture: A's clusters are 0..kc−1, B's kc..2kc−1) —
    // ground-truth confirmation that the label-free signal pointed the
    // right way. The stale index covers 32 true clusters with 16
    // centroids, so BOTH numbers must improve after the k-means||
    // recenter; drift shows up in geometry before it shows up in
    // recall-vs-exact (which needs the expensive brute-force oracle).
    def meanSil(c: DataFrame): Double =
      Similarity.silhouetteSimplified(all, c)
        .agg((sum(col("mean_s") * col("n")) / sum(col("n"))).as("s"))
        .as[Double].head()
    val truth = all.select(col("vec_id").as("id"),
      when(col("vec_id") < 2000L, col("vec_id") % kc)
        .otherwise(lit(kc) + (col("vec_id") - 2000L) % kc).as("cid"))
    def ariOf(c: DataFrame): Double =
      Similarity.adjustedRandIndex(
          Similarity.ivfAssign(all, c).select(col("vec_id").as("id"), col("cid")),
          truth)
        .select("ari").as[Double].head()
    val silStale = meanSil(staleC); val silRec = meanSil(scalableC)
    val ariStale = ariOf(staleC); val ariRec = ariOf(scalableC)
    println(f"[soak] index_drift validity: silhouette stale $silStale%.3f -> " +
      f"recentered $silRec%.3f; ARI-vs-truth stale $ariStale%.3f -> " +
      f"recentered $ariRec%.3f")
    all.unpersist(blocking = false)
    require(silRec > silStale,
      f"label-free silhouette must flag the stale index: $silStale%.3f vs $silRec%.3f")
    require(ariRec > ariStale,
      f"ARI vs ground truth must confirm the recenter: $ariStale%.3f vs $ariRec%.3f")
    require(recentered > stale,
      f"recentering must recover recall on the drifted distribution: " +
        f"stale $stale%.3f vs recentered $recentered%.3f")
    require(recenteredScalable > stale,
      f"the k-means|| recenter must recover recall WITHOUT hand-seeded ids: " +
        f"stale $stale%.3f vs kmeans|| $recenteredScalable%.3f")
    ()
  }

  /** Incremental-vs-full for the VECTOR INDEX — the q152 discipline
    * (q75/q87's daily-batch economics applied to ANN): at each corpus
    * size the centroid + PQ-codebook artifacts are WRITTEN ONCE as
    * parquet (production's index-build output) and a 1/50th batch
    * encodes against the read-back artifacts, vs a full corpus
    * re-encode. The fixture embeddings are too small to separate the
    * legs from the job floor (both sub-second at ×100 — the
    * fixture-degeneracy lesson), so the corpus is synthesized at
    * encode-relevant size: n dim-64 vectors from a deterministic
    * sin-expression, n and 4n legs. Full re-encode must grow faster
    * than the batch leg across the step AND lose outright at 4n.
    *
    * Usage: sbt "runMain graft.Soak 10 index_ingest_ab" — mult=10 is
    * the recorded capture (200k and 800k vectors: incr flat sub-second
    * at both sizes, full re-encode 1.0→5.6 s — ~5.5x on the 4x step). */
  private def indexIngestAb(spark: SparkSession, mult: Int, out: String): Unit = {
    import graft.operators.Similarity
    def corpus(n: Long): DataFrame = spark.range(n).select(
      col("id").as("vec_id"),
      expr("transform(sequence(1, 64), i -> sin(CAST(id * i AS DOUBLE)))").as("e"))
    def run(n: Long, incremental: Boolean): Double = {
      val e = corpus(n)
      val c = spark.read.parquet(s"$out/index_centroids.parquet")
      val cb = spark.read.parquet(s"$out/index_codebook.parquet")
      val t0 = System.nanoTime()
      // both legs run the SAME operator — full re-encode IS indexIngest
      // over the whole corpus — so the a/b can never measure a stale
      // reimplementation of the production composition
      val encoded = Similarity.indexIngest(
        if (incremental) e.filter(col("vec_id") % 50 === 0) else e,
        c, cb, m = 4, dim = 64)
      val rows = encoded.count()
      val w = (System.nanoTime() - t0) / 1e9
      require(rows == (if (incremental) ((n + 49) / 50) * 4 else n * 4),
        s"unexpected code rows at n=$n incremental=$incremental: $rows")
      w
    }
    val base = 20000L * mult
    def buildArtifacts(n: Long): Unit = {
      val indexSide = corpus(n).filter(col("vec_id") % 50 =!= 0)
      Similarity.trainCentroids(indexSide, k = 8, iters = 2, dim = 64)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/index_centroids.parquet")
      Similarity.pqCodebook(indexSide, m = 4, ksub = 16, dim = 64, trainFrom = 1)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/index_codebook.parquet")
    }
    buildArtifacts(base)
    run(base, incremental = true); run(base, incremental = false) // warm
    val walls = Seq(base, base * 4).map { n =>
      buildArtifacts(n)
      val wi = run(n, incremental = true)
      val wf = run(n, incremental = false)
      println(f"[soak] index_ingest_ab n=$n%9d: incr-batch $wi%6.2f s, full-reencode $wf%6.2f s")
      (wi, wf)
    }
    val (i0, f0) = walls.head
    val (iN, fN) = walls.last
    println(f"[soak] index_ingest_ab growth x4: incr ${iN / i0}%.1fx, full ${fN / f0}%.1fx")
    require(fN / f0 > iN / i0 && iN < fN,
      f"incremental ingest must stay flat while full re-encode grows: " +
        f"incr ${iN / i0}%.1fx/${iN}%.2f s vs full ${fN / f0}%.1fx/${fN}%.2f s")
    ()
  }
}
