package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape gates: the scale properties docs/PLANS.txt
  * documents, asserted so a regression (a lost pushdown, a broadcast
  * that degrades to shuffle, a partial aggregate that disappears) fails
  * the build instead of silently shipping a slower plan. String checks
  * run against the pre-AQE plan of each query on sf0.001 tables.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def q(name: String): String =
    plan(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001"))

  /** The executed-plan string with each AQE "== Initial Plan ==" echo
    * stripped (r21): operators that eagerly materialize their result
    * (CacheDiscipline) print the build plan inside an InMemoryRelation
    * whose AdaptiveSparkPlan echoes BOTH final and initial sections —
    * exact node counts would double. Counting on the final sections
    * keeps the assertions' intent. */
  private def finalOnly(p: String): String =
    p.split(java.util.regex.Pattern.quote("== Initial Plan ==")).head

  /** The materialized RESULT's cached build plan (r21): for a query
    * whose operator returns a CacheDiscipline-materialized frame, the
    * outer executed plan is just sort-over-InMemoryTableScan; the shape
    * evidence lives in the relation's cachedPlan — the same surface the
    * pre-r21 lazy plan exposed. */
  private def qBuild(name: String): String = {
    val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    // search the OPTIMIZED LOGICAL plan: the physical root is an
    // AdaptiveSparkPlanExec, which hides its children from collect
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.toString
    }.getOrElse(fail(s"$name: expected a materialized result cache in the plan"))
  }

  test("lazySorts: q01 builds with a bare range sort over its full upstream, no checkpoint") {
    def checkpoints(df: DataFrame): Int = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }.size
    val lazyQ01 = Queries.lazySorts(Queries.q01(sf0001))
    assert(checkpoints(lazyQ01) == 0, s"lazySorts must not checkpoint:\n${plan(lazyQ01)}")
    assert(plan(lazyQ01).contains("FileScan"), s"the upstream scan must show:\n${plan(lazyQ01)}")
    assert(checkpoints(Queries.q01(sf0001)) == 1,
      "outside the block the presentation sort checkpoints as before")
  }

  test("q02: the flag predicate reaches the parquet scan (PushedFilters)") {
    val p = q("q02_filter_flagmask")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"predicate must push to the scan:\n$p")
  }

  test("q04: both dimension joins broadcast") {
    val p = q("q04_dim_join_chain")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"nation and region must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no dimension SMJ expected:\n$p")
  }

  test("q06: the raster is a partial+final hash aggregate around one exchange") {
    val p = q("q06_raster2d_count")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"partial and final hash aggregates expected:\n$p")
  }

  test("q13: global top-k plans TakeOrderedAndProject (no full sort)") {
    val p = q("q13_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not full-sort:\n$p")
  }

  test("q65: the gap-fill join broadcasts the bounded side") {
    val p = q("q65_gap_fill")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"fill join must broadcast:\n$p")
  }

  test("q67: rn=1 keep-latest pushes the limit into the sort (WindowGroupLimit)") {
    val p = q("q67_keep_latest")
    assert(p.contains("WindowGroupLimit"),
      s"row_number<=1 filter must push below the window:\n$p")
  }

  test("native minhash signatures are a pure map stage (no exchange, no aggregate)") {
    val sigs = graft.operators.Dedup.minHashSignaturesNative(
      sf0001.documents, col("doc_id"), col("text"))
    val p = plan(sigs)
    assert(!p.contains("Exchange") && !p.contains("HashAggregate"),
      s"signature derivation must not shuffle or aggregate:\n$p")
  }

  test("incremental dedup: corpus-side band derivation is map-only above the signature table") {
    // the 100 TB property q75 depends on: reading the persisted corpus
    // signature table into band keys must be a pure projection
    // (generate+project), never a shuffle or an aggregate — the first
    // Exchange a corpus row meets is the band join itself
    val corpusSigs = graft.operators.Dedup.minHashSignaturesNative(
      sf0001.documents, col("doc_id"), col("text"))
    val bands = graft.operators.Dedup.lshBands(corpusSigs, numHashes = 8, bands = 2)
    val p = plan(bands)
    assert(!p.contains("Exchange") && !p.contains("HashAggregate"),
      s"band derivation must not shuffle or aggregate:\n$p")
  }

  test("q78: the derived cutoff table broadcasts back into the sample predicate") {
    // the mixture sampler's scale property: the |strata|-row cutoff table
    // must reach the corpus side as a broadcast, never a shuffled join
    val p = q("q78_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), s"cutoff join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffled join expected:\n$p")
  }

  test("q86: eval shingles broadcast; window and island groupBy share one exchange") {
    // the exact-substring scale contract: the (100 TB) train side meets
    // ONE hash exchange — the window sort — and the island aggregate
    // reuses that clustering (its keys extend the window's partition
    // keys); the benchmark-sized eval side broadcasts into the shingle
    // join. The only other exchange is the final 1-partition output sort.
    val p = q("q86_exact_substring")
    assert(p.contains("BroadcastHashJoin"), s"eval side must broadcast:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"window + island aggregate must share one hash exchange:\n$p")
  }

  test("q107: the df-cap anti-join guards the candidate index (r17 gate; r21 adaptive)") {
    // the containment scale contract: on a corpus WITH a Zipf-head
    // shingle, the candidate-generating inverted index must exclude
    // stop shingles via an anti-join against the df > cap set — without
    // it one hot shingle makes candidate generation quadratic in corpus
    // size; the stop recount leg must stay a left-semi (stop shingles
    // only). r21: the plan is DATA-ADAPTIVE — one bounded count of the
    // stop head decides it, so a CLEAN corpus (the sf0.001/sf0.1
    // fixture) skips the guard's five empty-input stages outright and
    // plans exactly [[Dedup.ngramContainment]]'s shape (bit-equal
    // results, the standing DedupSpec pin).
    import spark.implicits._
    // hot corpus: one trigram shared by > cap docs plus per-doc noise
    val hot = (1 to 12).map(i => (i.toLong, s"a b c noise$i x$i y$i"))
      .toDF("doc_id", "text")
    val shHot = graft.operators.Dedup.shingleSet(hot, col("doc_id"), col("text"), 3)
    val pHot = plan(graft.operators.Dedup.containmentCappedPairs(shHot, 0.8, 10L))
    assert(pHot.contains("LeftAnti"),
      s"candidate index must anti-join the stop set:\n$pHot")
    assert(pHot.contains("LeftSemi"),
      s"stop recount leg must be a semi-join:\n$pHot")
    // clean corpus: no shingle over the cap — the degenerate fast path
    // must carry NO anti/semi legs (they would be five stages over
    // empty relations)
    val sh = graft.operators.Dedup.shingleSet(
      sf0001.documents, col("doc_id"), col("text"), 3)
    val p = plan(graft.operators.Dedup.containmentCappedPairs(sh, 0.8, 50L))
    assert(!p.contains("LeftAnti") && !p.contains("LeftSemi"),
      s"clean corpus must take the guard-free fast path:\n$p")
  }

  test("q179: one map-side-combined moment aggregate — partial+final around a single exchange") {
    // the grouped-OLS scale contract: the corpus meets ONE hash exchange
    // (the group key); the closed form lives in the projection above it.
    // The only other exchange is the 1-partition output sort.
    val p = q("q179_grouped_ols")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"partial and final moment aggregates expected:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly one group-key exchange expected:\n$p")
    assert(!p.contains("Join"), s"no join anywhere in the moments plan:\n$p")
  }

  test("q185: binned KS — corpus meets only the edge aggregate and the bin-count aggregate, never a values grid") {
    // the scale contract vs q175's exact form: binning is an in-row fold
    // against BROADCAST edges (no corpus-sized join input), and every
    // window/grid operator downstream runs on the groups × 32 bin table.
    // The exact form's groups × distinct-values cross join must NOT
    // appear anywhere between the scan and the first aggregate.
    // r21: the operator eagerly materializes its (3-row) result and
    // releases the gv/edge caches (CacheDiscipline), so the shape
    // evidence lives in the result's cached BUILD plan (qBuild)
    val p = qBuild("q185_ks_binned")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"quantile edges must broadcast into the fold:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle on a join key:\n$p")
    // the corpus-side scan feeds an aggregate (edges or bin counts)
    // before any cross join: the only CartesianProduct-free proof the
    // string plan offers is that no non-broadcast cartesian exists
    assert(!p.contains("CartesianProduct"),
      s"no corpus-sized cartesian grid allowed:\n$p")
    // ADVICE r19 + optimization r20: ksDriftBinned's corpus-scan budget
    // is now ONE physical pass — the persisted (g, v) distinct-value
    // histogram that feeds both the ExactQuantiles edge dag and the
    // binning aggregate. Pin the shape under the non-AQE planner (where
    // exchange reuse is a static rule and therefore visible in the plan
    // string; under AQE the same dedup happens as runtime stage reuse):
    //  - the shared gv cache must actually be in play (InMemoryTableScan
    //    on both the edge and binning branches — >= 2 occurrences);
    //  - the tot/loud branches must still reuse the shared (g, bin)
    //    exchange (ReusedExchange present), not re-execute it;
    //  - the plan STRING carries the lineitem scan only as the gv
    //    cache's build plan — each InMemoryRelation printout echoes it,
    //    so the count is an upper bound of 3 echoes of ONE physical
    //    scan (was: exactly 2 live scans before r20). A jump above 3
    //    means a branch stopped reading the cache and went back to the
    //    file — the regression this pin exists to catch.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // cold rebuild under the static planner, so exchange reuse is a
      // static rule and therefore visible in the plan string (r21: the
      // warm result cache would otherwise satisfy the query without
      // re-planning the build)
      spark.sharedState.cacheManager.clearCache()
      val ps = qBuild("q185_ks_binned")
      assert("InMemoryTableScan".r.findAllIn(ps).size >= 2,
        s"the binning branch must read the shared gv cache and the " +
          s"materialized edge frame:\n$ps")
      assert("Scan parquet".r.findAllIn(ps).size <= 3,
        s"corpus must be scanned once (cache-echo budget 3):\n$ps")
      assert(ps.contains("ReusedExchange"),
        s"tot/loud branches must reuse the shared exchange, not rescan:\n$ps")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("q186: binned quantile transform is MAP-ONLY after the edge pass — no vocab window, no join back") {
    // the scale contract vs q181's exact form: no single-partition
    // cumulative window over a distinct-score table, no score-keyed
    // join back onto the corpus — one broadcast of the 1-row edge
    // array, then in-row arithmetic.
    val p = q("q186_quantile_binned")
    assert(!p.contains("Window"),
      s"no cumulative window anywhere in the binned transform:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no score-keyed shuffle join back:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the edge array must ride in as a broadcast:\n$p")
  }

  test("q187: significant-digit Benford is map-only digit extraction + one 9-key aggregate") {
    val p = q("q187_benford_significant")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"census must stay broadcast/bounded:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"partial and final digit aggregates expected:\n$p")
  }

  test("q174: rendezvous sharding is in-row argmax — one census exchange, no join, no window") {
    val p = q("q174_rendezvous_shards")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"only the census aggregate may shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"HRW assignment must be in-row arithmetic:\n$p")
  }

  test("q172: query codes broadcast into the Hamming scan — no shuffled corpus join") {
    // the binary-ANN scale contract: the corpus-side code scan meets the
    // (tiny) query codes through a broadcast, never a SortMergeJoin —
    // shuffling the corpus on a join key would defeat the 32×-lighter
    // scan the codes exist for.
    val p = q("q172_binary_hamming")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query codes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle on a join key:\n$p")
  }

  test("q66: bigram counting partially aggregates below its exchange") {
    val p = q("q66_bigrams")
    val exchangeIdx = p.indexOf("Exchange")
    val partialIdx = p.lastIndexOf("HashAggregate")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"a partial HashAggregate must sit below the exchange (map-side combine):\n$p")
  }

  test("q97: the percentile threshold broadcasts into the filter (no row shuffle, no sort)") {
    // the quantile gate's scale contract: corpus rows are NEVER shuffled
    // or globally sorted — the only way the 1-row threshold meets them
    // is a broadcast nested-loop cross join
    val p = q("q97_quantile_gate")
    assert(p.contains("BroadcastNestedLoopJoin"), s"threshold must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffled join expected:\n$p")
    // the final presentation sort is the single allowed exchange of rows
    assert("Exchange (range|hash)partitioning".r.findAllIn(p).size <= 1,
      s"corpus rows must not shuffle on the way to the gate:\n$p")
  }

  test("q146: range-rank discretization sorts in parallel, no single-partition data sort") {
    // Q11's scale-killer is `ntile OVER (ORDER BY ...)`: every row
    // through ONE partition's sort. The sibling must show (a) a range
    // exchange (the parallel global sort), (b) the offsets riding back
    // as a broadcast, and (c) exactly one SinglePartition exchange —
    // the partition-COUNT dimension (one row per shuffle partition)
    // feeding the offsets window, never the data
    val src = sf0001.events.filter(col("event_id") % 20 === 0)
      .select(col("event_id"), col("value"))
    val p = plan(graft.operators.Discretize.ntileRangeRank(
      src, 16, col("value"), col("event_id")))
    assert(p.contains("rangepartitioning"), s"parallel range sort expected:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offsets must broadcast back:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"only the partition-count dimension may gather to one partition:\n$p")
  }

  test("q152: index artifacts ride in as broadcasts; the batch never shuffle-joins") {
    // incremental ingest's scale contract: assignment = broadcast
    // nested-loop against the k-row centroid table, encoding =
    // broadcast hash join against the m*ksub codebook — the new batch
    // is the only data in motion, and it never meets anything in a
    // shuffled join
    val p = q("q152_index_ingest")
    assert(p.contains("BroadcastNestedLoopJoin"), s"centroid argmax must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"codebook must broadcast:\n$p")
    // the one permitted shuffled join is the batch zipping its OWN two
    // derivations (assignment ⋈ codes on vec_id — linear in the batch);
    // the indexed corpus must never appear in a shuffled join
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size <= 1,
      s"only the batch's assign-codes zip may shuffle:\n$p")
  }

  test("q153: SQ8 stats ride in as 1-row broadcasts; no shuffled join anywhere") {
    // encode and reconstruct are map-only under broadcast cross joins of
    // the single stats row; the ADC ranking broadcasts the 5-query side.
    // Nothing corpus-sized ever meets anything in a shuffled join — the
    // only exchange is the per-query window's.
    val p = q("q153_ann_sq8")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 3,
      s"stats (x2) and the query side must ride in as broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"SQ8 search must not shuffle-join:\n$p")
  }

  test("q154: the AUC sweep aggregates the corpus once; the window sees only score groups") {
    // partial+final aggregate on the distinct-score groupBy, then the
    // cumulative window runs over the score vocabulary (grid-bounded),
    // never the corpus rows
    val p = q("q154_roc_auc")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"distinct-score grouping must aggregate partial+final:\n$p")
    assert("Window".r.findAllIn(p).size == 1,
      s"exactly one cumulative window (over score groups) expected:\n$p")
  }

  test("q156: image near-dup has no window — banded equi-join plus distinct only") {
    // the dHash is computed inside the scan projection (after the codec
    // map stage); candidates come from the chunk-key equi-join and the
    // exact Hamming verify is a per-row filter. No per-doc window, no
    // cartesian product.
    val p = q("q156_image_dhash")
    assert(!p.contains("Window"), s"no window in the banded join plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"banding must prevent all-pairs:\n$p")
  }

  test("q94: unigram sides broadcast; totals arrive as 1-row broadcast cross joins") {
    val p = finalOnly(qBuild("q94_pmi_collocations"))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2,
      s"both unigram joins must broadcast:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 2,
      s"both totals must ride in as broadcast cross joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffled join expected:\n$p")
  }

  test("q110: a semi join shields corpus re-tokenization to affected docs only") {
    val p = q("q110_substring_removal")
    assert(p.contains("LeftSemi"),
      s"corpus tokenization must sit behind the affected-id semi join:\n$p")
  }

  test("q112: native subword tokenization is a map stage + one output exchange") {
    val p = q("q112_bpe_tokens")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"only the repartition(1) output exchange expected:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"no aggregate or join in the tokenizer pipeline:\n$p")
  }

  test("q121/q123: the scrub and normalize stages are map-only (one output exchange)") {
    for (name <- Seq("q121_pii_scrub", "q123_unicode_norm")) {
      val p = q(name)
      assert("Exchange".r.findAllIn(p).size == 1,
        s"$name: only the output-sort exchange expected:\n$p")
      assert(!p.contains("HashAggregate") && !p.contains("Join") &&
        !p.contains("Window"),
        s"$name: no aggregate/join/window in a redact-on-ingest stage:\n$p")
    }
  }

  test("q122: line dedup is one line-keyed window + one doc-keyed reassembly") {
    val p = q("q122_line_dedup")
    assert(p.contains("Window"), s"keep-first needs the line window:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"reassembly collects per-doc arrays:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the doc-spine join must broadcast at this scale, never cartesian:\n$p")
  }

  test("q124: the MG sketch aggregates partial+final around one exchange") {
    val p = q("q124_heavy_hitters")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"partial map-side sketch states must combine before the shuffle:\n$p")
    assert(!p.contains("Join"), s"no join in the sketch path:\n$p")
  }

  test("q128: hotKeySafe line dedup has NO window — partial+final min(struct) plus joins only") {
    val p = q("q128_line_dedup_hotsafe")
    assert(!p.contains("Window"),
      s"the associative form must never plan the hot-key window:\n$p")
    // the min(struct) firsts aggregation must combine map-side (partial
    // + final around its exchange) — that partial combine IS the
    // hot-key collapse the escape hatch exists for
    assert("HashAggregate".r.findAllIn(p).size + "ObjectHashAggregate".r.findAllIn(p).size >= 3,
      s"partial+final firsts agg plus reassembly expected:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
  }

  test("q129/q130: quarantine decode and full scrub add no shuffle over their map stages") {
    // q129's decode is mapPartitions over blobs (one deserialize span);
    // q130 is pure projection incl. the native Luhn expressions — in
    // both, the only exchange is the output sort
    for (name <- Seq("q130_pii_scrub_full")) {
      val p = q(name)
      assert("Exchange".r.findAllIn(p).size == 1,
        s"$name: only the output-sort exchange expected:\n$p")
      assert(!p.contains("HashAggregate") && !p.contains("Join") &&
        !p.contains("Window"),
        s"$name: map-only stage expected:\n$p")
    }
    val p129 = q("q129_decode_quarantine")
    assert("Exchange".r.findAllIn(p129).size == 1 && !p129.contains("Join"),
      s"q129: decode is one map span + output sort:\n$p129")
  }

  test("q131: the exact re-rank join broadcasts the query side, never the corpus") {
    val p = q("q131_pq_rerank")
    assert(p.contains("BroadcastHashJoin"),
      s"the 5-row query side must broadcast into the candidate join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian in the two-stage rerank:\n$p")
  }

  test("q134: the boilerplate head flags via BROADCAST join, no line-keyed window") {
    // the operator's scale claim: the high-df head is a dimension, so
    // every line occurrence is flagged by hash probe (broadcast LEFT
    // join + keep flag — counts and reassembly ride one aggregate) —
    // the line volume is never shuffled on the line text and no hot
    // partition can exist
    val p = q("q134_boilerplate_lines")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"boilerplate flagging must be a broadcast left join:\n$p")
    assert(!p.contains("Window"),
      s"no keep-first window belongs in frequency-threshold removal:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q135: classifier scoring is map-only — model as literals, no exchange before the output sort") {
    // training already ran (driver loop); the SCORED slice must plan as
    // scan -> project with the weights folded in as plan literals
    val p = q("q135_classifier_train")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"scoring must be map-only ahead of the output-sort exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"no join/aggregate in the scoring pass:\n$p")
  }

  test("q136: skew audit tops keys via TakeOrdered, never a global sort of the count table") {
    val p = q("q136_skew_audit")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k over key counts must plan TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row stats must broadcast:\n$p")
  }

  test("q137: per-group terciles arrive by broadcast — no per-group window over the corpus") {
    val p = q("q137_ccnet_buckets")
    assert(!p.contains("Window"),
      s"bucketing must be threshold CASE, never a per-lang window sort:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the |langs|-row threshold table must broadcast:\n$p")
  }

  test("q138: the PR sweep is ONE aggregate pass, reshaped after — no corpus x thresholds explode") {
    val p = q("q138_pr_curve")
    // the only Generate (explode) allowed is the bounded 9-struct
    // reshape of the 1-row aggregate; the corpus side must feed a
    // partial+final aggregate directly
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"partial+final conditional-sum aggregate expected:\n$p")
    assert("Generate".r.findAllIn(p).size <= 1,
      s"only the bounded reshape explode is allowed:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), s"\n$p")
  }

  test("q139: the CMS aggregates partial+final around one exchange (q124's sketch shape)") {
    val p = q("q139_cms_counts")
    assert("ObjectHashAggregate".r.findAllIn(p).size +
      "SortAggregate".r.findAllIn(p).size >= 2,
      s"typed-aggregator partial+final expected:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q140: the df table broadcasts into the weight join — vectors never shuffle on tokens twice") {
    val p = q("q140_hashed_tfidf")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab-dimension df join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"), s"\n$p")
    assert(!p.contains("Window"), s"no window in vector assembly:\n$p")
  }

  test("q141: scoring joins the weight TABLE (checkpointed scan), no cartesian") {
    // training ran in the driver loop; the gated plan is the scoring
    // composition — feature pairs joined to the checkpointed weight
    // relation plus the doc-keyed sum
    val p = q("q141_hashed_classifier")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"the trained weight table must enter as a materialized relation:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q157: interpolation is the user-keyed window shuffle only — no join, no aggregate") {
    // four IGNORE-NULLS window reads share ONE (user_id)-partitioned
    // exchange; the lerp is in-row arithmetic. Nothing joins, nothing
    // aggregates — at 100 TB the cost is exactly one keyed shuffle.
    val p = q("q157_interpolate_linear")
    assert(p.contains("Window"), s"windowed neighbor reads expected:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"all window reads must share one user-keyed exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"no join or aggregate in the interpolation plan:\n$p")
  }

  test("q158: the Hilbert key is ONE native expression node — bounded plan, map stage only") {
    // the r15 failure class: the Column-tree formulation grew ~4x per
    // level (~4^8 nodes at bits=8 — a 79 MiB task binary and ~10 min of
    // driver-side optimizer/codegen per run, data-size-independent).
    // Gate BOTH properties: the native expression is actually in the
    // plan, and the rendered plan stays small (the explosion produced
    // megabytes here).
    val df = SparkEntry.queries("q158_hilbert_key")(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(p.contains("hilbert_xy2d"),
      s"the native hilbert_xy2d expression must appear in the plan:\n$p")
    assert(p.length < 50000,
      s"plan string must stay bounded (got ${p.length} chars) — " +
      s"an exploding expression tree renders megabytes here")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"hilbert keying is a pure map stage over the scan:\n$p")
  }

  test("q160: composed k-means census — trained centroids enter as a k-row local relation, " +
      "the corpus-sized assignment joins them by broadcast only") {
    // init + Lloyd run in the driver loop (only k-row centroid sets ever
    // reach the driver — the q142 discipline); the gated plan is the
    // composition's final pass: the census assignment must broadcast the
    // centroid relation against the corpus, never shuffle-join it
    val p = q("q160_kmeans_pipeline")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"trained centroids must enter as a materialized k-row relation:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the assignment pass must broadcast the centroid set:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q161: BM25 — probe terms and the 1-row stats ride in as broadcasts, one top-k window") {
    // the scale hinge: tf/df aggregate only query-term postings (terms
    // broadcast into the token table), totals arrive as a 1-row
    // broadcast cross join, and the only window ranks per-query top-k
    val p = finalOnly(qBuild("q161_bm25_topk"))
    assert(p.contains("BroadcastHashJoin"),
      s"probe-term and df joins must broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row dl stats must ride in as a broadcast cross join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // count the Window EXEC nodes ("Window [") — the rank filter also
    // plans WindowGroupLimit nodes, which are the pushed limit, not an
    // extra window pass
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"exactly one per-query top-k window expected:\n$p")
  }

  test("q162: matryoshka rerank — query side broadcasts both stages, nothing corpus-sized shuffles into a join") {
    val p = q("q162_matryoshka_rerank")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the prefix candidate stage must broadcast the query side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert("Window \\[".r.findAllIn(p).size == 2,
      s"two windows (prefix cut + exact rerank) expected:\n$p")
  }

  test("q163: divergence audit — vocab-keyed partial+final aggregate, totals as 1-row broadcast") {
    // the corpus reads once into one map-side-combined term count;
    // everything after is vocabulary-sized under a 1-row broadcast
    val p = q("q163_unigram_divergence")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"term counting must aggregate partial+final:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the totals row must ride in as a broadcast cross join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("Window"), s"no shuffled join, cartesian or window:\n$p")
  }

  test("q164: weighted sample is ONE stratum-keyed window exchange — md5/ln map-side, no join") {
    val p = q("q164_weighted_sample")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly one stratum-keyed exchange expected:\n$p")
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"one per-stratum top-k window expected:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"no join or aggregate in the sampling plan:\n$p")
  }

  test("q159: rotated PQ keeps q89's ADC shape — query side broadcasts, rotation is in-row") {
    // the signed-permutation rotate is a per-row projection (no shuffle
    // of its own); the ADC ranking broadcasts the 5-query side against
    // the codes — the corpus never shuffles into a join
    val p = q("q159_pq_rotated")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the query side must ride in as a broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct"),
      s"no shuffled or cartesian join in the rotated-PQ search:\n$p")
  }

  test("q165: silhouette — k-row centroid broadcast, ONE vec_id exchange shared by " +
      "window and pivot, rn<=2 pushes WindowGroupLimit") {
    // the trained centroids enter as a local relation under a broadcast
    // NLJ (the ivfAssign shape); the top-2 window hash-partitions on
    // vec_id and the per-point pivot aggregate REUSES that exchange —
    // so the whole per-point stage costs one shuffle, plus the k-group
    // mean: exactly two hashpartitioning exchanges in the plan
    val p = q("q165_silhouette")
    assert(p.contains("LocalTableScan") && p.contains("BroadcastNestedLoopJoin"),
      s"centroids must ride in as a broadcast k-row relation:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rn <= 2 must push the limit below the window sort:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"exactly two exchanges (vec_id, then cid) — the pivot must reuse " +
      s"the window's partitioning:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffled or cartesian join:\n$p")
  }

  test("q166: kappa consumes the corpus ONCE — grouping-sets Expand, linear " +
      "aggregate chain, zero joins") {
    // the defining property: confusion cells AND both marginals come out
    // of one Expand[3 sets] aggregate — the naive conf→marginals→join
    // restatement planned the corpus-sized token pipeline THREE times
    // (column pruning differentiates the exchanges, so reuse never
    // fires; this gate is the regression pin for that postmortem)
    val p = q("q166_cohens_kappa")
    assert(p.contains("Expand"),
      s"marginals must come from a grouping-sets Expand, not re-aggregation:\n$p")
    assert("Generate explode".r.findAllIn(p).size == 1,
      s"the token pipeline must be planned exactly once:\n$p")
    assert(!p.contains("Join"), s"zero joins — the label pivot replaces the " +
      s"marginal-vs-marginal join:\n$p")
  }

  test("q167: robust stats is exactly two percentile passes — quantile row " +
      "broadcasts back, no third join") {
    val p = q("q167_robust_stats")
    assert("ObjectHashAggregate".r.findAllIn(p).size == 4,
      s"two partial+final percentile passes expected (4 nodes):\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1,
      s"the per-group quantile row must broadcast back exactly once — " +
      s"carrying n/quantiles through the second pass kills the third join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"no shuffled join or window:\n$p")
  }

  test("q168: ARI — contingency, both marginals and n out of ONE grouping-sets " +
      "aggregate; label side broadcasts") {
    val p = q("q168_adjusted_rand")
    assert(p.contains("Expand"),
      s"pair counting must run through one grouping-sets Expand:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the generator-label side must broadcast into the id join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the assignment argmax must push its limit below the window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffled or cartesian join:\n$p")
    // the C(n,2) halving must stay integer (shiftright), never double
    assert(p.contains("shiftright"),
      s"pair combinatorics must use exact integer shiftright:\n$p")
  }

  test("q169: NMI — one grouping-sets Expand, zero joins past the id join") {
    // the factored identity (MI from three x·ln x sums) removes the
    // cell-vs-both-marginals join entirely: past the broadcast id join
    // the plan is a linear aggregate chain over one Expand
    val p = q("q169_nmi")
    assert(p.contains("Expand"),
      s"cells + marginals + n must come from one grouping-sets Expand:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1,
      s"exactly one join (the broadcast id join) expected:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffled or cartesian join:\n$p")
  }

  test("q170: order-exact covariance — ONE fixed-state integer-moment aggregate, " +
      "triangle unfolds in-row, no join") {
    // r18 shape: the corpus meets one group-less partial+final aggregate
    // over the grid-snapped longs (map-side combined, fixed 153-sum
    // state); the dim² triangle comes out of the single result row via
    // Generate (in-row explode), never a join or second scan. Exactly
    // one FileScan (embeddings), and the scan reads ONLY the embedding
    // column.
    val p = q("q170_covariance")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"partial and final moment aggregates expected:\n$p")
    assert(p.contains("Generate explode"),
      s"the triangle must unfold in-row from the aggregate row:\n$p")
    assert(!p.contains("Join"), s"no join anywhere in the moments plan:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"exactly one corpus scan expected:\n$p")
    assert(p.contains("ReadSchema: struct<embedding:array<float>>"),
      s"the scan must prune to the embedding column:\n$p")
  }

  test("q171: CUSUM closed form — ONE user exchange under both running windows " +
      "and the summary aggregate") {
    // the recursion's closed form (prefix sum − running min) keeps the
    // detector to two running-frame windows over one hashpartitioning
    // exchange; the per-user summary groupBy reuses that partitioning,
    // so the only other exchange is sortedSmall's SinglePartition
    val p = q("q171_cusum")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly one user-keyed exchange expected:\n$p")
    assert("Window \\[".r.findAllIn(p).size == 2,
      s"two running windows (prefix sum, then its running min) expected:\n$p")
    assert(!p.contains("Join"), s"no join in the detector:\n$p")
  }
}
