package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Regenerates docs/PLANS.txt: formatted physical plans for EVERY
  * gated query (all of `SparkEntry.queries`, r20 — VERDICT r19 #5; the
  * file previously carried a 109-query curation) — the evidence that
  * scans prune and push down, dimensions broadcast, aggregates are
  * partial+final, and final sorts avoid sampling jobs, reviewable
  * without a local rebuild. Usage:
  *   sbt "runMain graft.PlanDump [sfDir] [outPath]"
  */
object PlanDump {

  /** Curated one-line WHY notes per plan family — kept as reviewer
    * documentation; the dump itself covers every gated query. */
  val selection: Seq[String] = Seq(
    "q02_filter_flagmask",   // pushdown + partial/final agg
    "q04_dim_join_chain",    // broadcast dimension joins
    "q06_raster2d_count",    // raster = hash agg on bin keys
    "q10_eqhist_cumedist",   // bounded window over the raster
    "q13_topk",              // TakeOrderedAndProject
    "q14_distinct_counts",   // expand-based multi-distinct
    "q16_rank_per_group",    // window below-filter pushdown
    "q20_array_explode_stats", // generator (posexplode)
    "q22_sessionize",        // single exchange, two window fns; no presentation sort (r19)
    "q23_interval_join",     // equi + range conjuncts
    "q25_cosine_topk",       // broadcast NLJ + codegen'd native expression
    "q30_asof_join",         // outer range join + max
    "q31_dedup_minhash_lsh", // LSH band equi-join, cached signatures
    "q35_ann_ivf",           // IVF bucket join
    "q42_tfidf_topterms",    // multi-stage joins + window
    "q43_sliding_window",    // window() expansion (4 rows per event)
    "q44_cube",              // expand-based grouping sets
    "q45_percentiles",       // exact percentile aggregate
    "q46_moving_avg",        // frame-spec window
    "q47_pivot",             // pivot = conditional aggregation
    "q48_string_nn",         // broadcast NLJ + levenshtein + window
    "q49_raster_firstlast",  // min_by/max_by raster reduction
    "q56_hash_sample",       // sampling predicate evaluated at the scan stage
    "q58_unpivot",           // expand-based unpivot
    "q60_range_frame",       // event-time RANGE window frame
    "q63_grouping_sets",     // explicit grouping-sets expand
    "q64_scalar_subquery",   // decorrelated scalar subquery (agg + left join)
    "q65_gap_fill",          // bounded grid + broadcast fill join
    "q66_bigrams",           // native word_ngrams generate + partial agg + top-k
    "q75_incremental_dedup", // map-only corpus bands into the incremental band join
    "q77_dynspread",         // raster-sized neighbor convolution (explode + re-agg)
    "q78_mixture_sample",    // derived cutoffs broadcast into the hash-sample predicate
    "q86_exact_substring",   // broadcast eval shingles; window + island agg share one exchange
    "q87_exact_dup_guard",   // bloom literal probe at the batch scan, confirm join after
    "q90_ann_ivf_pq",        // broadcast probes + codebook; codes-only search side
    "q91_domain_pagerank",   // per-iteration join+agg over the persisted transition table
    "q94_pmi_collocations",  // vocab-sized aggs; totals as 1-row broadcast cross joins
    "q97_quantile_gate",     // 1-row percentile aggregate broadcast into the filter
    "q105_seeded_shuffle",   // one window shuffle on the shard key, nothing else
    "q107_containment",      // df-cap anti-join guards the candidate index (r17)
    "q172_binary_hamming",   // map-only sign packing; broadcast query codes; XOR+popcount scan
    "q174_rendezvous_shards", // in-row HRW argmax (array_max over struct literals), one census agg
    "q175_ks_drift",         // group-keyed CDF window + vocab-sized global window, bounded grid
    "q177_hybrid_rrf",       // bounded top-k tables union + (qid,id) agg — no corpus-sized stage
    "q179_grouped_ols",      // ONE map-side-combined moment aggregate; closed form in the projection
    "q182_psi_drift",        // 1-row percentile-edge broadcast; bin-keyed counts; bins-row join
    "q183_gini_concentration", // group-keyed rank window + one moment aggregate, no global sort
    "q108_winnowing",        // per-doc ROWS-frame window minima + distinct (sketch build)
    "q110_substring_removal", // run-table explode only; semi join shields the corpus scan
    "q111_sketch_novelty",   // k-row sketch tables; merge joins sketches, never raw data
    "q112_bpe_tokens",       // native subword tokenizer: map stage + output sort only
    "q113_bpe_packing",      // q84's single per-shard window; piece count map-side native
    "q115_gopher_gate",      // map-only: every metric incl. argmax gram via in-row HOFs
    "q116_dsir_weights",     // <=64-row bucket agg -> 1-row model map; scoring map-only
    "q117_bigram_lm_ce",     // vocab-sized count tables; 1-row V broadcast
    "q118_semdedup",         // broadcast centroid assign; cluster-keyed pair equi-join
    "q119_bpe_vocab32k",     // 34k-vocab trie tokenizer: still map stage + output sort
    "q120_gopher_full",      // full battery: map-only, native top_run argmax, no exchange
    "q121_pii_scrub",        // regexp count+mask: map-only, zero exchanges
    "q122_line_dedup",       // line-keyed window shuffle + doc-keyed reassembly, no join
    "q123_unicode_norm",     // codegen'd unicode_normalize: map-only, fused in scan span
    "q124_heavy_hitters",    // MG sketch: cap-bounded partial states, map-side combine
    "q125_url_canon",        // regexp canonicalize map stage + one canonical-key agg
    "q128_line_dedup_hotsafe", // assoc form: partial-agg min(struct) + skew-free (id,pos) join
    "q129_decode_quarantine", // codec-boundary try/catch: still one map stage, no shuffle
    "q130_pii_scrub_full",   // 6-category scrub incl. native Luhn: map-only, zero exchanges
    "q131_pq_rerank",        // ADC candidate cut + exact re-rank join, broadcast query side
    "q132_tokenizer_census", // trie vocab-apply map stage + one source-keyed partial/final agg
    "q134_boilerplate_lines", // high-df head as broadcast dim: LEFT ANTI probe, no line shuffle
    "q135_classifier_train", // scoring pass: model folded in as literals, map-only
    "q136_skew_audit",       // count agg + TakeOrdered top-k + 1-row stats broadcast
    "q137_ccnet_buckets",    // |langs|-row tercile table broadcast into a map-only CASE
    "q138_pr_curve",         // one conditional-sum pass + bounded reshape explode
    "q139_cms_counts",       // fixed-size sketch partials, typed-agg partial+final
    "q140_hashed_tfidf",     // tf agg + broadcast df dim + (doc,bucket) sum + dense assembly
    "q141_hashed_classifier", // scoring joins the checkpointed weight relation
    "q142_kmeans_train",     // broadcast assignment pass + k-group mean aggregate
    "q143_calibration",      // one |bins|-row aggregate on the floored grid score
    "q144_bitext_margin",    // broadcast NLJ candidates + per-side k-row margin windows
    "q145_exact_substring_dfcap", // anti join drops hot shingles BEFORE the self-join
    "q146_ntile_rangerank",  // parallel range sort + broadcast offsets, no 1-partition sort
    "q147_trained_langid",   // per-lang weight relations + keyed argmax window
    "q148_ivfpq_rerank",     // bucket-restricted ADC candidates + bounded exact rerank
    "q149_ivfadc_residual",  // residual encode/reconstruct, broadcast centroids both ways
    "q151_ivfadc_rerank",    // residual ADC candidates + bounded exact rerank, end to end
    "q152_index_ingest",     // batch-only scan; centroids + codebook ride in as broadcasts
    "q150_dynspread_density", // raster-bounded neighbor explode + 1-row radius broadcast
    "q153_ann_sq8",          // 1-row stats broadcasts, map-only encode/reconstruct, no shuffled join
    "q154_roc_auc",          // one corpus aggregate + window over the score vocabulary only
    "q156_image_dhash",      // codec map stage -> in-row dHash -> banded equi-join, no window
    "q157_interpolate_linear", // IGNORE-NULLS window reads, one keyed exchange, in-row lerp
    "q158_hilbert_key",      // native hilbert_xy2d: ONE expression node, map stage + output sort
    "q159_pq_rotated",       // signed-permutation rotate in-row + q131's rerank shape
    "q160_kmeans_pipeline",  // trained k-row centroids local; census = broadcast assign + agg
    "q161_bm25_topk",        // probe terms + 1-row stats broadcast; one top-k window
    "q162_matryoshka_rerank", // prefix candidates broadcast queries; bounded exact rerank
    "q163_unigram_divergence", // vocab-keyed partial+final count; totals 1-row broadcast
    "q164_weighted_sample",  // one stratum-keyed window exchange; md5/ln map-side
    "q165_silhouette",       // k-row centroid broadcast; ONE vec_id exchange shared by window+pivot
    "q166_cohens_kappa",     // category-keyed count agg; confusion-sized tail, 1-row scalar join
    "q167_robust_stats",     // two grouped percentile passes; quantile row broadcast back
    "q168_adjusted_rand",    // ONE grouping-sets aggregate: contingency + marginals + n together
    "q169_nmi",              // same single Expand pass; x·ln x sums replace the cell-marginal join
    "q170_covariance",       // order-exact integer-moment aggregate + in-row triangle explode (r18)
    "q185_ks_binned",        // broadcast quantile edges into an in-row fold; groups×bins grid only (r18)
    "q186_quantile_binned",  // map-only binned ECDF: edge broadcast, no vocab window, no join back (r18)
    "q187_benford_significant", // mantissa-normalized digit map stage + one 9-key aggregate (r18)
    "q188_ks_vs_reference",  // map-only bin vs broadcast artifact; CDF sup folds in-row from one agg row (r18)
    "q171_cusum",            // closed-form CUSUM: ONE user exchange under two running windows + summary agg
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption.getOrElse("docs/PLANS.txt")
    // pinned at 4 partitions, not sized from the host: the partition
    // count is printed in every exchange, and the dump is a committed
    // artifact that must diff cleanly across machines
    val spark = Engine.session("local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (sf0.001, AQE initial plans) — evidence of " +
      "pushdown/broadcast/partial-agg shapes\n")
    sb.append("# Generated by `sbt \"runMain graft.PlanDump\"`\n\n")
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      // lazy sorts: an eager presentation-sort checkpoint would EXECUTE
      // the query during the dump and truncate its plan to an RDD scan
      val df = Queries.lazySorts(SparkEntry.queries(name)(spark, sfDir))
      sb.append(s"===== $name =====\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append("\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote ${names.length} plans to $out")
    spark.stop()
  }
}
