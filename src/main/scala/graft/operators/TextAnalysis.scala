package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star
  * extension): heuristic language ID, quality scoring, token statistics.
  * All pure column expressions over a long-form token table — fully
  * codegen'd, aggregation-shaped (one shuffle on the group key).
  */
object TextAnalysis {

  /** Stopword lists for the heuristic language classifier. Order matters:
    * ties resolve to the earlier language (mirrored in the oracle CASE). */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "de", "los", "y", "es"),
    "fr" -> Seq("le", "les", "et", "des", "un", "est"))

  /** Per-language stopword-hit score columns over a token column. */
  def langScores(w: Column): Seq[(String, Column)] =
    stopwords.map { case (lang, words) =>
      lang -> sum(when(w.isin(words: _*), 1).otherwise(0))
    }

  /** Argmax with first-wins tie-break over the score columns `s_<lang>`;
    * "unknown" when every score is zero. */
  def predictLang(): Column = {
    val langs = stopwords.map(_._1)
    langs.zipWithIndex.foldRight(lit("unknown")) { case ((lang, i), rest) =>
      val geRest = langs.drop(i + 1)
        .map(l2 => col(s"s_$lang") >= col(s"s_$l2"))
        .foldLeft(col(s"s_$lang") > 0)(_ && _)
      when(geRest, lang).otherwise(rest)
    }
  }

  /** Sub-word unit estimate for a token: BPE-ish `ceil(len/4)`. */
  def subwordCount(w: Column): Column = ceil(length(w) / 4.0).cast("long")

  /** TF-IDF over a long-form token table (doc_id, w): raw term frequency ×
    * `ln(N / df)`. Document frequency always comes from the FULL corpus
    * (`tokens`), even when downstream consumers restrict to a document
    * subset — restrict tf, never df. Returns (doc_id, w, tf, df, tfidf). */
  def tfIdf(tokens: DataFrame, numDocs: Long): DataFrame = {
    val tf = tokens.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tokens.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(df, "w")
      .withColumn("tfidf", col("tf") * log(lit(numDocs.toDouble) / col("df")))
  }

  /** Sliding-window document CHUNKING — the context-window preparation
    * step of an LLM training pipeline: split each document's token
    * sequence into `chunkSize`-token windows advancing by `stride`
    * (overlap = chunkSize − stride), the standard recipe for long-doc
    * training data. One row per (doc, chunk): chunk index, its token
    * count (the final chunk may be short — never padded here) and the
    * md5 of the re-joined window (a content fingerprint downstream dedup
    * can key on).
    *
    * Chunk count is closed-form, `1 + max(0, ceil((n − chunkSize) /
    * stride))`, computed with integer arithmetic so the row set is
    * engine-exact; the expansion is a `sequence` + `posexplode`-style
    * generate over in-row `slice` — per-row work, no shuffle, no UDF. */
  def chunkTokens(
      docs: DataFrame, id: Column, text: Column,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      s"need 1 <= stride ($stride) <= chunkSize ($chunkSize)")
    val toks = graft.functions.TextOps.tokens(text)
    docs
      .select(id.as("doc_id"), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .withColumn("chunk_id", explode(sequence(lit(0L),
        greatest(lit(0L), expr(s"(__n - $chunkSize + $stride - 1) DIV $stride")))))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkSize)).as("__c"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("__c")).cast("long").as("n_tokens"),
        md5(array_join(col("__c"), " ")).as("chunk_md5"))
  }

  /** Greedy SEQUENCE PACKING — the concat-then-split packing an LLM data
    * loader applies to fill fixed-length training sequences: documents
    * are laid end to end in `orderCol` order within each `shard`
    * partition, and a document belongs to the sequence where its FIRST
    * token lands (`seq_id = floor(startOffset / seqLen)`). Returns one
    * row per (shard, seq_id) with the doc count and token sum — the
    * fill-ratio audit a packing job reports. Per-shard windows keep the
    * running sum distributed (pack per domain/file shard, exactly like a
    * production loader); a global pack is a single-partition sort by
    * construction and should stay off the 100 TB path. */
  def packSequences(
      docs: DataFrame, shard: Column, orderCol: Column, tokenCount: Column,
      seqLen: Long): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    // Frame pinned to ROWS explicitly: the default frame for a window
    // with ORDER BY is RANGE ... CURRENT ROW, which hands every row tied
    // on __ord the whole peer group's sum — the oracle (and the "doc
    // belongs where its FIRST token lands" contract) requires the
    // per-row running sum regardless of order-key ties.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__shard").orderBy("__ord")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .select(shard.as("__shard"), orderCol.as("__ord"), tokenCount.cast("long").as("__tok"))
      .withColumn("__off", sum(col("__tok")).over(w) - col("__tok"))
      .withColumn("seq_id", expr(s"__off DIV $seqLen"))
      .groupBy(col("__shard").as("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"))
  }

  /** Unigram surprisal scoring — each document's mean negative log
    * probability of its tokens under the corpus's own unigram
    * distribution, `-(1/|d|) Σ ln(c(w)/N)`: the cheapest member of the
    * LM-perplexity family of quality/importance filters (low = stuffed
    * with corpus-typical tokens, high = rare-token-heavy — gibberish,
    * another language, or genuinely novel text; pipelines threshold both
    * tails). Every token exists in the vocabulary by construction (the
    * counts come from the same corpus), so no smoothing term is needed.
    *
    * Shape at scale: one vocabulary aggregate (shuffle = vocab, not
    * corpus), the total as a 1-row broadcast cross join, one broadcast
    * probability join back onto the token stream (Heaps' law again), one
    * doc-keyed aggregate. Returns (doc_id, n_tok, surprisal) unrounded. */
  def unigramSurprisal(docs: DataFrame, id: Column, text: Column): DataFrame = {
    import graft.functions.TextOps
    val tok = docs.select(id.as("doc_id"), explode(TextOps.tokens(text)).as("w"))
    val cnt = tok.groupBy("w").agg(count(lit(1)).as("cw"))
    val n = cnt.agg(sum("cw").cast("double").as("n"))
    tok.join(broadcast(cnt), "w").crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        avg(-log(col("cw") / col("n"))).as("surprisal"))
  }

  /** Jensen-Shannon divergence between two corpus slices' unigram
    * distributions — the drift detector a pipeline runs between crawls
    * ("did this month's data shift?") and between a source and the
    * blend it feeds. JS rather than KL because it needs NO smoothing
    * hyperparameter: the mixture `m = (p+q)/2` covers the union
    * support, and a side's zero-probability terms contribute exactly 0
    * (`lim p→0 of p·ln(p/m) = 0`, made explicit with a CASE so SQL
    * never evaluates `0·ln 0`). Symmetric, bounded [0, ln 2].
    *
    * Shape: one vocabulary aggregate per slice, a full-outer join on
    * the union vocab (vocab-sized shuffle, Heaps' law), totals as a
    * 1-row broadcast cross join, one scalar aggregate out. Returns one
    * row (n_a, n_b, vocab, js) with js unrounded. */
  def jsDivergence(a: DataFrame, b: DataFrame, text: Column): DataFrame = {
    import graft.functions.TextOps
    def cnt(df: DataFrame, as: String) =
      df.select(explode(TextOps.tokens(text)).as("w"))
        .groupBy("w").agg(count(lit(1)).as(as))
    val joined = cnt(a, "ca").join(cnt(b, "cb"), Seq("w"), "full_outer")
      .na.fill(0L, Seq("ca", "cb"))
    val tot = joined.agg(sum("ca").cast("double").as("na"),
      sum("cb").cast("double").as("nb"))
    joined.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        (col("ca") / col("na")).as("p"), (col("cb") / col("nb")).as("q"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .withColumn("t",
        when(col("p") > 0, col("p") * log(col("p") / col("m"))).otherwise(lit(0.0)) * 0.5 +
        when(col("q") > 0, col("q") * log(col("q") / col("m"))).otherwise(lit(0.0)) * 0.5)
      .agg(first(col("na")).cast("long").as("n_a"),
        first(col("nb")).cast("long").as("n_b"),
        count(lit(1)).as("vocab"), sum(col("t")).as("js"))
  }

  /** PMI collocation extraction — the classic phrase-mining statistic:
    * for each adjacent token pair, `pmi = ln(P(ab) / (P(a)·P(b)))` with
    * `P(ab) = n_ab / N_bigrams` and `P(a) = c_a / N_tokens`. High-PMI
    * pairs co-occur far more than their unigram frequencies predict —
    * the signal behind tokenizer-vocabulary merges and phrase detection.
    *
    * Shape at scale: one explode+groupBy each for unigrams and bigrams
    * (map-side partial aggregation; shuffle volume = vocabulary, not
    * corpus), `minCount` prunes the long tail BEFORE the joins, and the
    * unigram table broadcasts — vocabulary grows sublinearly in corpus
    * size (Heaps' law), so it stays a dimension even when the corpus is
    * 100 TB. The two totals ride in as broadcast 1-row cross joins, never
    * through the driver. Arithmetic is association-mirrored with the
    * DuckDB oracle (`a·nu·nu / (nb·c1·c2)`, left-assoc) so the doubles
    * agree bitwise. Returns (w1, w2, n_ab, pmi) unrounded. */
  def pmiCollocations(docs: DataFrame, text: Column, minCount: Long): DataFrame = {
    import graft.functions.TextOps
    // Persisted (r20): both count tables are VOCAB-sized but their
    // subtrees are corpus-sized explodes+aggregates, and each had
    // multiple consumers (uni: the nu total + both broadcast legs;
    // pair: the nb total + the filtered main) — five corpus passes in
    // the dumped plan for two tables' worth of work. Caching the
    // bounded tables cuts it to one pass per explode.
    val toks = docs.select(explode(TextOps.tokens(text)).as("w"))
    val uniHeld = CacheDiscipline.hold(toks.groupBy("w").agg(count(lit(1)).as("cw")))
    val uni = uniHeld.df
    val nu = uni.agg(sum("cw").cast("double").as("nu"))
    val pairHeld = CacheDiscipline.hold(docs
      .select(explode(TextOps.shinglesNative(TextOps.tokens(text), 2)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab")))
    val pair = pairHeld.df
    val nb = pair.agg(sum("n_ab").cast("double").as("nb"))
    // materialize the (vocab-sized) collocation table, release both
    // count caches (r21 lifecycle rule — CacheDiscipline)
    CacheDiscipline.materialized(
      pair.filter(col("n_ab") >= minCount)
        .join(broadcast(uni.select(col("w").as("w1"), col("cw").as("c1"))), Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("cw").as("c2"))), Seq("w2"))
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .withColumn("pmi",
          log(col("n_ab") * col("nu") * col("nu") / (col("nb") * col("c1") * col("c2"))))
        .select("w1", "w2", "n_ab", "pmi"),
      uniHeld, pairHeld)
  }

  /** DSIR importance weights (Data Selection via Importance Resampling,
    * Xie et al. 2023 — the published hashed-n-gram recipe): bucket every
    * token by a stable hash (md5 top-16-bits mod `buckets`, the
    * [[Layout.seededShuffle]] idiom — engine-portable), fit two
    * Laplace-smoothed bucket distributions (target vs raw), and score
    * each doc by its summed per-token log-likelihood ratio
    * `Σ ln(p_target(b)/p_raw(b))` — high weight = "looks like the
    * target domain", the resampling key for domain-matched pretraining
    * mixes. `isTarget` marks the target-domain rows of `docs` itself
    * (in production, a curated corpus unioned in).
    *
    * Shuffle shape at 100 TB: ONE exchange total — the ≤`buckets`-row
    * count aggregate (map-side combined). The fitted ratio table folds
    * into a single map literal (1-row aggregate, broadcast), and each
    * doc's weight is an IN-ROW fold over its own token array — the
    * scoring pass is map-only, the corpus never shuffles on doc id.
    * Buckets no scored token trained on fall back to the smoothed
    * zero-count ratio, so the fitted model also scores UNSEEN docs.
    * Returns (id, n_tok, weight). */
  def dsirWeights(docs: DataFrame, id: Column, text: Column,
      isTarget: Column, buckets: Int = 64): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    import graft.functions.TextOps
    def bucketOf(w: Column): Column =
      pmod(conv(substring(md5(w), 1, 4), 16, 10).cast("long"), lit(buckets.toLong))
    val counts = docs.select(isTarget.as("__dsir_tgt"),
        explode(TextOps.tokens(text)).as("w"))
      .groupBy(bucketOf(col("w")).as("__dsir_b")).agg(
        sum(when(col("__dsir_tgt"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("__dsir_tgt"), 1L).otherwise(0L)).as("cr"))
    def lr(ct: Column, cr: Column, tt: Column, tr: Column): Column =
      log((ct + lit(1)) / (tt + lit(buckets))) - log((cr + lit(1)) / (tr + lit(buckets)))
    // one row: the full bucket→ratio map plus the unseen-bucket fallback
    // (totals ride a single-partition window over the ≤buckets-row table)
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val model = counts
      .withColumn("__dsir_tt", sum("ct").over(all))
      .withColumn("__dsir_tr", sum("cr").over(all))
      .agg(
        map_from_entries(collect_list(struct(col("__dsir_b"),
          lr(col("ct"), col("cr"), col("__dsir_tt"), col("__dsir_tr"))))).as("__dsir_m"),
        lr(lit(0L), lit(0L), min("__dsir_tt"), min("__dsir_tr")).as("__dsir_lr0"))
    docs.select(id.as("id"), TextOps.tokens(text).as("__dsir_s"))
      .crossJoin(broadcast(model))
      .select(col("id"),
        size(col("__dsir_s")).cast("long").as("n_tok"),
        aggregate(col("__dsir_s"), lit(0.0), (acc, w) =>
          acc + coalesce(element_at(col("__dsir_m"), bucketOf(w)),
            col("__dsir_lr0"))).as("weight"))
  }

  /** Bigram-LM cross-entropy scoring (the CCNet/KenLM perplexity-filter
    * shape, restated as an add-one-smoothed bigram model trained on the
    * target-domain slice): every doc is scored by the mean negative log
    * probability of its bigrams under
    * `p(w2|w1) = (c2(w1 w2)+1) / (c1(w1)+V)` with counts from the
    * target rows and V = the target's distinct-unigram vocabulary.
    * Low cross-entropy = fluent under the target LM — the standard
    * quality key for crawl filtering. Sibling of [[unigramSurprisal]]
    * (self-corpus, no smoothing, unigram).
    *
    * Shuffle shape: bigram and prefix count tables are vocab-sized
    * aggregates; scoring is two equi-joins on those tables (broadcast
    * when the vocab fits, shuffle-hash when it doesn't) plus V as a
    * 1-row broadcast; the per-doc mean shuffles on doc id. Returns
    * (id, n_bigrams, ce). */
  def bigramCrossEntropy(docs: DataFrame, id: Column, text: Column,
      isTarget: Column): DataFrame = {
    import graft.functions.TextOps
    val grams = docs.select(id.as("id"), isTarget.as("__blm_tgt"),
        TextOps.tokens(text).as("__blm_s"))
      .select(col("id"), col("__blm_tgt"), col("__blm_s"),
        explode(TextOps.shinglesNative(col("__blm_s"), 2)).as("gram"))
      .withColumn("w1", split(col("gram"), " ").getItem(0))
    val train = grams.filter(col("__blm_tgt"))
    val c2 = train.groupBy("gram").agg(count(lit(1)).as("c2"))
    val c1 = train.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = docs.filter(isTarget)
      .select(explode(TextOps.tokens(text)).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    grams
      .join(c2, Seq("gram"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(-log((coalesce(col("c2"), lit(0L)) + lit(1)) /
                 (coalesce(col("c1"), lit(0L)) + col("v")))).as("ce"))
  }

  /** Snap a double to the 1e-9 grid with explicitly-mirrored arithmetic
    * (`floor(x·1e9 + 0.5) / 1e9` — NOT a library `round`, whose
    * half-even/half-away choice differs across engines). Used by
    * [[logisticTrain]] to make distributed training bit-deterministic:
    * see the gradient-rounding note there. */
  def gridRound(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9

  /** In-plan z = w·x with the SAME association as the oracle and the
    * driver update: `((b + w1·x1) + w2·x2) + …` — left-assoc, so the
    * doubles agree bitwise wherever the inputs do. */
  private def zOf(weights: Array[Double], xs: Seq[Column]): Column =
    xs.zipWithIndex.foldLeft(lit(weights(0))) { case (acc, (x, i)) =>
      acc + lit(weights(i + 1)) * x
    }

  /** DISTRIBUTED LOGISTIC-REGRESSION TRAINING — the quality/language
    * classifier every published pretraining pipeline trains over cheap
    * text features (the GPT-3/PaLM "looks like curated text" filter,
    * fastText-style): full-batch gradient descent on the logistic loss,
    * `w ← w − lr · (1/n) Σ (σ(w·x) − y) x`, bias folded in as x₀ = 1.
    *
    * Spark shape, sized for 100 TB: the feature projection is computed
    * ONCE and persisted (map-only over the corpus); each iteration is a
    * single partial-aggregated `agg` producing d+1 gradient sums — the
    * ONLY driver traffic is those d+1 doubles per iteration (the IVF
    * centroid discipline: bounded by the model size, never by the data).
    * No per-row state, no shuffle of the corpus — gradient descent on a
    * cluster is embarrassingly aggregate-shaped.
    *
    * DETERMINISM: a float sum over partitions is partition-order
    * dependent (~1e-15 relative wobble), which would make the learned
    * weights differ between runs, CPU counts, and engines. Each gradient
    * component is therefore snapped to the 1e-9 grid ([[gridRound]])
    * before the update: any two evaluations of the same true sum land in
    * the same cell, so the weight TRAJECTORY is bit-identical across
    * partitionings (spec-pinned 1-vs-7 partitions) and re-derivable by
    * the DuckDB oracle with plain SQL arithmetic. 1e-9 is ~1e6 ULPs of
    * slack for unit-scale features yet far below any decision-relevant
    * resolution.
    *
    * Returns the weight vector `[b, w1, …, wd]`. Feature scaling is the
    * caller's job (unit-magnitude features keep fixed-lr GD stable).
    * `init` resumes from a checkpointed weight vector: full-batch GD is
    * memoryless beyond the weights, so `train(k) + train(n−k, init)`
    * equals `train(n)` EXACTLY (spec-pinned) — checkpoint the d+1
    * doubles anywhere, no optimizer state to save. */
  def logisticTrain(df: DataFrame, features: Seq[Column], label: Column,
      iters: Int, lr: Double, init: Option[Array[Double]] = None): Array[Double] = {
    require(features.nonEmpty && iters >= 1 && lr > 0,
      s"need features, iters >= 1, lr > 0 (got d=${features.length}, iters=$iters, lr=$lr)")
    val d = features.length
    require(init.forall(_.length == d + 1),
      s"init must be d+1 weights (got ${init.map(_.length)} for d=$d)")
    val cols = label.cast("double").as("__lg_y") +:
      features.zipWithIndex.map { case (f, i) => f.cast("double").as(s"__lg_x$i") }
    // drop rows with any null feature or label BEFORE counting n: a null
    // would silently vanish from the gradient sums while still inflating
    // the 1/n denominator — a biased step, not an error
    val base = df.select(cols: _*).na.drop().persist()
    try {
      // resume = replay nothing: full-batch GD is a deterministic
      // function of (weights, data), so continuing from a checkpointed
      // weight vector provably equals the unbroken run (spec-pinned) —
      // the fault-tolerance story for long trainings, the
      // BpeTrain.learnMergesBatched(resumeFrom) convention
      val w = init.map(_.clone()).getOrElse(Array.fill(d + 1)(0.0))
      for (_ <- 1 to iters) {
        val z = zOf(w, (0 until d).map(i => col(s"__lg_x$i")))
        val diff = lit(1.0) / (lit(1.0) + exp(-z)) - col("__lg_y")
        val aggs = sum(diff).as("__lg_g0") +:
          (0 until d).map(i => sum(diff * col(s"__lg_x$i")).as(s"__lg_g${i + 1}")) :+
          count(lit(1)).as("__lg_n")
        val row = base.agg(aggs.head, aggs.tail: _*).head()
        val n = row.getLong(d + 1).toDouble
        for (j <- 0 to d)
          w(j) = w(j) - lr * gridRound(row.getDouble(j) / n)
      }
      w
    } finally base.unpersist()
  }

  /** HASHED TF-IDF DOCUMENT VECTORS — the feature-hashing trick
    * (Weinberger et al. 2009) applied to tf-idf: every token's weight
    * `tf · ln(N/df)` lands in bucket `md5(token) mod dims`, producing a
    * FIXED-dimension dense vector per document with NO vocabulary table
    * — the "embedding without a model" that feeds this engine's
    * similarity stack (cosine top-k, IVF, SemDedup) from raw text. The
    * md5 bucketing is [[dsirWeights]]' engine-portable idiom, so a
    * vector written today probes identically from any engine tomorrow.
    * (The signed variant that unbiases inner products adds a second
    * hash bit; unsigned keeps weights nonnegative — no cancellation, so
    * a bucket is 0.0 exactly iff every token in it has idf 0.)
    *
    * Shape at scale: tf = one (doc, token) aggregate; df = one
    * vocab-sized distinct aggregate (Heaps' law — a dimension, so it
    * broadcasts back); N as a 1-row broadcast; then one (doc, bucket)
    * partial-combined sum and one doc-keyed assembly into the dense
    * array. No pairwise anything; the corpus shuffles as (doc, token)
    * pairs once and (doc, bucket) pairs once, the second already capped
    * at `dims` rows per doc. Returns `(id, vec)` with `vec` a
    * `dims`-length array<double> (null-id docs dropped, the reassembly
    * rule). */
  def hashedTfidfVectors(docs: DataFrame, id: Column, text: Column,
      dims: Int): DataFrame = {
    require(dims >= 2, s"dims must be >= 2, got $dims")
    import graft.functions.TextOps
    val tok = docs.filter(id.isNotNull)
      .select(id.as("id"), explode(TextOps.tokens(text)).as("w"))
    val tf = tok.groupBy("id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tok.select("id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    val nd = docs.filter(id.isNotNull).agg(count(lit(1)).as("nd"))
    val bucket = pmod(
      conv(substring(md5(col("w")), 1, 4), 16, 10).cast("long"), lit(dims.toLong))
    val bw = tf
      .join(broadcast(dfreq), "w")
      .crossJoin(broadcast(nd))
      .select(col("id"), bucket.as("b"),
        (col("tf") * log(col("nd") / col("df"))).as("__htv_w"))
      .groupBy("id", "b").agg(sum("__htv_w").as("bw"))
    bw.groupBy("id")
      .agg(map_from_entries(collect_list(struct(col("b"), col("bw")))).as("__htv_m"))
      .select(col("id"),
        transform(sequence(lit(0L), lit(dims - 1L)),
          i => coalesce(element_at(col("__htv_m"), i), lit(0.0))).as("vec"))
  }

  /** PRECISION/RECALL THRESHOLD SWEEP — the operating-point picker run
    * after [[logisticTrain]]/[[logisticScore]]: confusion counts and
    * precision/recall at each candidate threshold, the curve a pipeline
    * reads to set its keep cutoff.
    *
    * Shape at scale: ONE partial-aggregated pass over the scored corpus
    * computing 2·|thresholds| conditional sums (plus the two label
    * totals) — never a |corpus|×|thresholds| explode — then the 1-row
    * result reshapes to |thresholds| rows through a bounded
    * array-of-structs explode. Integer counts over a grid-snapped score
    * are engine-exact; pass thresholds as exact decimal literals and a
    * 6-decimal score (both sides resolve to the identical nearest
    * double, so `>=` can never disagree). tn/fn derive from the label
    * totals rather than two more conditional sums. Zero-denominator
    * precision (no predicted positives) is NULL, recall 0 only when
    * there are no positives at all (also NULL then). */
  def prCurve(df: DataFrame, label: Column, score: Column,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "prCurve needs at least one threshold")
    val y = label.cast("boolean")
    val aggs =
      thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
        sum(when(score >= lit(t) && y, 1L).otherwise(0L)).as(s"__pr_tp$i"),
        sum(when(score >= lit(t) && !y, 1L).otherwise(0L)).as(s"__pr_fp$i"))
      } ++ Seq(
        sum(when(y, 1L).otherwise(0L)).as("__pr_pos"),
        sum(when(!y, 1L).otherwise(0L)).as("__pr_neg"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = explode(array(thresholds.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("thr"),
        col(s"__pr_tp$i").as("tp"), col(s"__pr_fp$i").as("fp"))
    }: _*))
    one.select(rows.as("__pr_r"), col("__pr_pos"), col("__pr_neg"))
      .select(col("__pr_r.thr").as("thr"),
        col("__pr_r.tp").as("tp"), col("__pr_r.fp").as("fp"),
        (col("__pr_pos") - col("__pr_r.tp")).as("fn"),
        (col("__pr_neg") - col("__pr_r.fp")).as("tn"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp"))))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn"))))
  }

  /** Exact ROC-AUC — the Mann–Whitney rank statistic with the standard
    * tie correction: `AUC = P(s⁺ > s⁻) + ½·P(s⁺ = s⁻)`, completing the
    * classifier-evaluation family ([[prCurve]] picks a threshold,
    * [[calibrationCurve]] audits the probabilities, this ranks the model
    * threshold-free).
    *
    * Shape: ONE corpus aggregate groups by DISTINCT score — `(np, nn)`
    * per score value — then the sweep runs entirely over that score
    * table: a cumulative window (negatives strictly below each score)
    * and one closing aggregate. The corpus is touched exactly once and
    * never sorted; only the score VOCABULARY is — which the caller must
    * keep bounded (the 6-decimal grid the scoring surfaces already snap
    * to caps it at ~1e6 rows; on raw unbounded scores, snap first — the
    * q135/q138 discipline).
    *
    * Cross-engine determinism: the pairwise count is kept in INTEGER
    * arithmetic end to end — `num2 = Σ np·(2·cnb + nn)` (twice the
    * tie-corrected concordant pairs, an exact BIGINT) — and the only
    * floating-point op is the final division `num2 / (2·pos·neg)`, IEEE
    * division of exactly-representable integers: no float-sum ordering
    * can ever reach the result (the q136 unrounded-ratio argument).
    * NULL scores must be filtered upstream (a NULL score row would
    * change cnb semantics engine-dependently). Returns one row
    * `(n_pos, n_neg, num2, auc)`; AUC of an all-pos/all-neg input is
    * NULL (0/0), not an exception. */
  def rocAuc(df: DataFrame, label: Column, score: Column): DataFrame = {
    val y = label.cast("boolean")
    val g = df.groupBy(score.as("__auc_s"))
      .agg(sum(when(y, 1L).otherwise(0L)).as("__auc_np"),
        sum(when(y, 0L).otherwise(1L)).as("__auc_nn"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__auc_s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    g.withColumn("__auc_cnb",
        coalesce(sum("__auc_nn").over(w), lit(0L)))
      .agg(
        sum("__auc_np").cast("long").as("n_pos"),
        sum("__auc_nn").cast("long").as("n_neg"),
        sum(col("__auc_np") * (lit(2L) * col("__auc_cnb") + col("__auc_nn")))
          .cast("long").as("num2"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("num2") / (lit(2.0) * col("n_pos") * col("n_neg"))))
  }

  /** Per-doc hashed bag-of-words FEATURE PAIRS `(id, bucket, x)` —
    * normalized counts `x = cnt/n` per md5-bucket plus one bias row
    * (`bucket = dims`, x = 1) per doc. Shared by
    * [[logisticTrainHashed]] and [[logisticScoreHashed]]; the md5
    * bucketing is [[hashedTfidfVectors]]' engine-portable idiom. */
  def hashedFeaturePairs(docs: DataFrame, id: Column, text: Column,
      dims: Int): DataFrame = {
    import graft.functions.TextOps
    // One explode (r20): the per-doc token total rides THROUGH the
    // explode as a per-row constant (`size(tokens)` = exactly the rows
    // the explode emits) and surfaces from the bucket aggregate as
    // max() — the previous shape exploded the corpus twice (cnt and n
    // are separate consumers of a map-side subtree) and paid an
    // (id)-keyed join of two corpus-derived tables just to divide by n.
    // Zero-token and null-text docs emit no pairs either way; the bias
    // row below covers every non-null-id doc, exploded or not.
    val tok = docs.filter(id.isNotNull)
      .select(id.as("__lh_id"), TextOps.tokens(text).as("__lh_ts"))
      .select(col("__lh_id"),
        size(col("__lh_ts")).cast("long").as("__lh_n"),
        explode(col("__lh_ts")).as("__lh_w"))
    val bucket = pmod(
      conv(substring(md5(col("__lh_w")), 1, 4), 16, 10).cast("long"),
      lit(dims.toLong))
    tok.groupBy(col("__lh_id"), bucket.as("__lh_b"))
      .agg(count(lit(1)).as("__lh_c"), max(col("__lh_n")).as("__lh_n"))
      .select(col("__lh_id"), col("__lh_b"),
        (col("__lh_c") / col("__lh_n")).as("__lh_x"))
      .unionAll(docs.filter(id.isNotNull).select(id.as("__lh_id"),
        lit(dims.toLong).as("__lh_b"), lit(1.0).as("__lh_x")))
  }

  /** DISTRIBUTED-WEIGHT logistic training — [[logisticTrain]]'s big
    * sibling for models too wide to hold on the driver: bag-of-words
    * features hashed into `dims` buckets, and the parameter vector
    * itself lives as a DataFrame `(bucket, weight)` — the weight TABLE
    * is sharded across the cluster like any other relation, exactly the
    * shape a 1M-bucket vocabulary model needs. Nothing model-sized ever
    * reaches the driver: per iteration the only driver traffic is job
    * dispatch (the doc count is collected once up front).
    *
    * Each full-batch GD iteration is two join+agg passes over the
    * persisted feature-pair table:
    *   z:  pairs ⋈ weights on bucket → per-doc `Σ x·w` (doc-keyed agg);
    *   g:  pairs ⋈ (σ(z) − y) on doc → per-BUCKET gradient sums,
    *       grid-rounded IN-PLAN (`floor(Σ/n·1e9 + 0.5)/1e9` — the
    *       [[gridRound]] formula as a column, so determinism across
    *       partitionings/engines holds per weight exactly as in the
    *       flat trainer);
    *   w ← w − lr·g: a bucket-keyed join of two `dims+1`-row tables,
    *       `localCheckpoint`ed per iteration (the Graph lineage rule —
    *       without it iteration k re-analyzes a k-deep join chain).
    * Bias is bucket `dims` (x = 1 per doc). Returns the weight table
    * `(bucket, weight)`. */
  def logisticTrainHashed(docs: DataFrame, id: Column, text: Column,
      label: Column, dims: Int, iters: Int, lr: Double): DataFrame = {
    require(dims >= 2 && iters >= 1 && lr > 0,
      s"need dims >= 2, iters >= 1, lr > 0 (got $dims, $iters, $lr)")
    val fp = hashedFeaturePairs(docs, id, text, dims).persist()
    try logisticTrainHashedOn(fp, docs, id, label, iters, lr)
    finally { fp.unpersist(); () }
  }

  /** [[logisticTrainHashed]] over an ALREADY-BUILT (caller-persisted)
    * feature-pair table — the entry for suite-level shared featurization
    * ([[graft.Tables.hashedFeaturePairs32]], r21): q141 and q147 train
    * over the identical corpus at the identical dims, so the memoized
    * table replaces per-query tokenize+hash explodes. The caller owns
    * `fp`'s lifecycle; numerics are the public entry's (same joins,
    * same grid-rounded gradients — the 1e-9 snap absorbs the cache's
    * partitioning of the gradient sums exactly as it absorbs any
    * other). */
  def logisticTrainHashedOn(fp: DataFrame, docs: DataFrame, id: Column,
      label: Column, iters: Int, lr: Double): DataFrame = {
    require(iters >= 1 && lr > 0, s"need iters >= 1, lr > 0 (got $iters, $lr)")
    // null labels would vanish from gradient sums but not from nd — the
    // flat trainer's bias hazard; drop them from the label table (their
    // feature pairs then join nothing and contribute nothing)
    val lab = docs.filter(id.isNotNull && label.isNotNull)
      .select(id.as("__lh_id"), label.cast("double").as("__lh_y")).persist()
    try trainOnPairs(fp, lab, iters, lr)
    finally { lab.unpersist(); () }
  }

  /** The GD loop of [[logisticTrainHashed]] over an ALREADY-BUILT
    * (and caller-persisted) feature-pair table — shared so multi-model
    * trainings ([[langIdTrained]]'s one-vs-rest) featurize the corpus
    * ONCE instead of once per model. Numerics are identical to the
    * public entry: same joins, same grid-rounded gradients. */
  private def trainOnPairs(fp: DataFrame, lab: DataFrame,
      iters: Int, lr: Double): DataFrame = {
    val nd = lab.count().toDouble
    // NOTE (r20): a pre-partitioned-copies variant (one cached fp copy
    // hash-partitioned+sorted per join key) was built and MEASURED OUT:
    // the checkpointed weight/diff tables carry real size statistics, so
    // the planner already broadcasts them into the cached fp — the
    // copies only ADDED two pair-table shuffles (profile drift: q141
    // shuffle_read_bytes +2.05×). The plain cached fp is the right form.
    var w = fp.select(col("__lh_b")).distinct()
      .withColumn("__lh_wb", lit(0.0)).localCheckpoint()
    for (_ <- 1 to iters) {
      val z = fp.join(w, "__lh_b")
        .groupBy("__lh_id")
        .agg(sum(col("__lh_x") * col("__lh_wb")).as("__lh_z"))
      val diff = z.join(lab, "__lh_id")
        .select(col("__lh_id"),
          (lit(1.0) / (lit(1.0) + exp(-col("__lh_z"))) - col("__lh_y"))
            .as("__lh_d"))
      val g = fp.join(diff, "__lh_id")
        .groupBy("__lh_b")
        .agg((floor(sum(col("__lh_d") * col("__lh_x")) / lit(nd) * lit(1e9)
          + lit(0.5)) / lit(1e9)).as("__lh_g"))
      w = g.join(w, "__lh_b")
        .select(col("__lh_b"),
          (col("__lh_wb") - lit(lr) * col("__lh_g")).as("__lh_wb"))
        .localCheckpoint()
    }
    w.select(col("__lh_b").as("bucket"), col("__lh_wb").as("weight"))
  }

  /** TRAINED LANGUAGE-ID — the model the production pipelines run where
    * q36's stopword heuristic stops scaling (fastText-style supervised
    * classification: CCNet, RedPajama): ONE-VS-REST
    * [[logisticTrainHashed]]-style models, all |langs| trained as ONE
    * candidate-keyed dag over a distributed (cand, bucket, weight)
    * relation (r20 — see the in-body note), composed into
    * score→argmax. Prediction compares GRID-SNAPPED scores (z at 6
    * decimals — without the grid, a cross-engine argmax is ill-defined
    * the moment two sums differ in the 1e-15s), ties broken by
    * candidate name ascending; the |langs|-row-per-doc argmax window
    * partitions on the doc id, so it parallelizes like any keyed
    * window and the corpus never gathers.
    *
    * Accuracy is a CORPUS property, not an operator property: on
    * lang-separable text the composition is exact on a disjoint-vocab
    * fixture (LangIdSpec pins acc = 1.0 at dims 32, iters 2), while on
    * text whose label carries no signal every one-vs-rest z collapses
    * to its class-prior bias and argmax returns the majority class —
    * the honest answer to an unlearnable task (the driver fixture's
    * `lang` is exactly such label noise; q147's gate is therefore
    * engine parity, with discrimination pinned in the spec).
    *
    * Returns one row per doc: `(id, pred, z6)`. */
  def langIdTrained(docs: DataFrame, id: Column, text: Column, lang: Column,
      langs: Seq[String], dims: Int, iters: Int, lr: Double): DataFrame = {
    // Featurize ONCE: tokenization+hashing is the dominant corpus cost,
    // and every one-vs-rest model consumes the identical feature table
    // (only the 0/1 label differs) — training |langs| models through
    // the public entry would tokenize the corpus 2·|langs| times (train
    // + score), as its DuckDB oracle's single MATERIALIZED fp CTE
    // already acknowledges.
    val fp = hashedFeaturePairs(docs, id, text, dims).persist()
    // the per-round scored table is eagerly checkpointed inside
    // langIdTrainedOn, so unpersisting fp on return is safe
    try langIdTrainedOn(fp, docs, id, lang, langs, iters, lr)
    finally { fp.unpersist(blocking = false); () }
  }

  /** [[langIdTrained]] over an ALREADY-BUILT (caller-persisted) feature
    * table — the shared-featurization entry ([[graft.Tables
    * .hashedFeaturePairs32]], r21; see [[logisticTrainHashedOn]]). The
    * caller owns `fp`'s lifecycle. */
  def langIdTrainedOn(fp: DataFrame, docs: DataFrame, id: Column,
      lang: Column, langs: Seq[String], iters: Int, lr: Double): DataFrame = {
    require(langs.nonEmpty && langs.distinct == langs,
      s"langs must be non-empty and distinct, got $langs")
    // NULL-lang docs stay: their one-vs-rest label is the `otherwise`
    // 0.0 for every candidate, exactly as the per-model `when` gave
    // them before this table was factored out (the oracle pins that).
    // Labels project once.
    val labAll = docs.filter(id.isNotNull)
      .select(id.as("__lh_id"), lang.as("__li_lang")).persist()
    // ALL |langs| one-vs-rest models train as ONE candidate-keyed dag
    // (optimization r20; was a sequential per-lang loop): the weight
    // relation is (cand, bucket, w) and every GD pass carries the
    // candidate key through the same three join+agg stages the
    // single-model trainer runs. Identical arithmetic per model — each
    // (cand, bucket) gradient sums exactly the per-model term set and
    // snaps to the same 1e-9 grid ([[trainOnPairs]]' determinism note),
    // each (cand, doc) z rounds to the same 1e-6 grid — but the
    // sequential barrier count drops from |langs|·(iters+1) eager
    // checkpoints (+|langs| scoring passes) to iters+1 and ONE scoring
    // pass: at any scale the cluster sees |langs|× fewer sequential
    // round-trips for the same shuffled bytes (measured at sf0.1:
    // q147 3.46 s → see OPTIMIZATION_r20.md). The oracle's per-model
    // CTE unroll is unchanged and stays green at sf0.01 AND sf0.1.
    val sparkSess = docs.sparkSession
    import sparkSess.implicits._
    val cands = langs.toDF("__li_cand")
    val scored = try {
      val nd = labAll.count().toDouble
      val labC = labAll.crossJoin(broadcast(cands))
        .select(col("__lh_id"), col("__li_cand"),
          when(col("__li_lang") === col("__li_cand"), 1.0).otherwise(0.0)
            .as("__lh_y"))
      var w = fp.select(col("__lh_b")).distinct()
        .crossJoin(broadcast(cands))
        .withColumn("__lh_wb", lit(0.0)).localCheckpoint()
      for (_ <- 1 to iters) {
        val z = fp.join(w, "__lh_b")
          .groupBy("__lh_id", "__li_cand")
          .agg(sum(col("__lh_x") * col("__lh_wb")).as("__lh_z"))
        val diff = z.join(labC, Seq("__lh_id", "__li_cand"))
          .select(col("__lh_id"), col("__li_cand"),
            (lit(1.0) / (lit(1.0) + exp(-col("__lh_z"))) - col("__lh_y"))
              .as("__lh_d"))
        val g = fp.join(diff, "__lh_id")
          .groupBy("__li_cand", "__lh_b")
          .agg((floor(sum(col("__lh_d") * col("__lh_x")) / lit(nd) * lit(1e9)
            + lit(0.5)) / lit(1e9)).as("__lh_g"))
        w = g.join(w, Seq("__li_cand", "__lh_b"))
          .select(col("__li_cand"), col("__lh_b"),
            (col("__lh_wb") - lit(lr) * col("__lh_g")).as("__lh_wb"))
          .localCheckpoint()
      }
      fp.join(w, "__lh_b")
        .groupBy(col("__lh_id").as("id"), col("__li_cand"))
        .agg(sum(col("__lh_x") * col("__lh_wb")).as("z"))
        .select(col("id"), col("__li_cand"),
          graft.functions.Rounding.portable(col("z"), 6).as("z6"))
        .localCheckpoint()
    } finally { labAll.unpersist(blocking = false); () }
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
        .orderBy(col("z6").desc, col("__li_cand")))
    scored.withColumn("__li_rn", rn).filter(col("__li_rn") === 1)
      .select(col("id"), col("__li_cand").as("pred"), col("z6"))
  }

  /** Score docs under a [[logisticTrainHashed]] weight table: one
    * pairs ⋈ weights join + doc-keyed sum — the weight table stays
    * distributed (broadcast when it fits, shuffle-hash when it
    * doesn't). Returns `(id, z, p)`. */
  def logisticScoreHashed(docs: DataFrame, id: Column, text: Column,
      weights: DataFrame, dims: Int): DataFrame =
    logisticScoreOnPairs(hashedFeaturePairs(docs, id, text, dims), weights)

  /** [[logisticScoreHashed]] over an ALREADY-BUILT feature-pair table
    * (r21 — the shared-featurization entry): [[hashedFeaturePairs]]
    * aggregates per id, so featurizing an id-filtered corpus slice and
    * id-filtering the full feature table produce the IDENTICAL rows —
    * q141 scores `fp.filter(__lh_id % 20 = 7)` against the memoized
    * table instead of re-tokenizing the slice. */
  def logisticScoreOnPairs(fp: DataFrame, weights: DataFrame): DataFrame =
    fp.join(weights.select(col("bucket").as("__lh_b"),
        col("weight").as("__lh_wb")), "__lh_b")
      .groupBy(col("__lh_id").as("id"))
      .agg(sum(col("__lh_x") * col("__lh_wb")).as("z"))
      .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("z"))))

  /** CALIBRATION (reliability) CURVE — the companion audit to
    * [[prCurve]]: bucket predictions into `bins` equal-width probability
    * bins and report, per bin, the count, the mean predicted
    * probability and the observed positive fraction. A calibrated model
    * tracks the diagonal; a quality filter that over-claims shows up
    * immediately. One partial-aggregated groupBy on the bin key —
    * |bins| output rows, nothing else. `p = 1.0` lands in the top bin
    * (`least`), the standard convention. Pass a grid-snapped score for
    * engine-deterministic binning (the [[prCurve]] note); observed
    * fractions are IEEE division of exact counts. */
  def calibrationCurve(df: DataFrame, label: Column, score: Column,
      bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val y = label.cast("boolean")
    val bin = least(floor(score * lit(bins.toDouble)), lit(bins - 1.0)).cast("long")
    df.select(bin.as("bin"), y.as("__cal_y"), score.as("__cal_p"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        avg(col("__cal_p")).as("mean_p"),
        (sum(when(col("__cal_y"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("frac_pos"))
  }

  /** EMPIRICAL QUANTILE TRANSFORM (rank normalization) — the
    * distribution-free feature map every tabular/ranking stack ships
    * (sklearn's QuantileTransformer, rank-gauss without the probit):
    * each row's score is replaced by its mid-rank ECDF position
    * `F(s) = (count_below + (count_eq + 1)/2) / n` — ties share their
    * average rank, outputs land in (0, 1] (a unique maximum maps to
    * exactly 1), and monotone transformations
    * of the input change nothing (the property that makes downstream
    * thresholds transferable across corpora).
    *
    * Shape (the q154 value-vocabulary discipline): one map-side-combined
    * count per DISTINCT score, a cumulative window over that
    * vocabulary-sized table (bounded, never data-sized), and a
    * vocab-keyed join back onto the rows — the corpus shuffles once on
    * the score key it already grouped on. All positions are rationals
    * of exact longs (single division), so the oracle re-derives them
    * bit-for-bit. Appends `out` (double in (0, 1]); NULL scores pass
    * through with NULL position. */
  def quantileTransform(df: DataFrame, score: Column, out: String): DataFrame = {
    val counts = df.select(score.as("__qt_s")).filter(col("__qt_s").isNotNull)
      .groupBy("__qt_s").agg(count(lit(1)).as("__qt_c"))
    val w = Window.orderBy("__qt_s")
    // the grand total is an unbounded window over the SAME vocab-sized
    // table the cumulative window already holds — a second aggregate on
    // `counts` would rescan the corpus unless exchange reuse saves it
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pos = counts
      .withColumn("__qt_cum", sum("__qt_c").over(w))
      .withColumn("__qt_n", sum("__qt_c").over(wAll))
      .select(col("__qt_s"),
        (((col("__qt_cum") - col("__qt_c")).cast("double") +
          (col("__qt_c") + 1).cast("double") / 2) / col("__qt_n")).as(out))
    df.join(pos, score <=> col("__qt_s"), "left_outer").drop("__qt_s")
  }

  /** BINNED QUANTILE TRANSFORM — the 100 TB form of
    * [[quantileTransform]] for CONTINUOUS scores, where the exact form's
    * distinct-score table and single-partition cumulative window become
    * data-sized: rank positions are evaluated against a FIXED grid of
    * `bins` equal-population quantile edges (the q182/[[graft.operators
    * .TimeSeries.ksDriftBinned]] edge discipline), and every row maps to
    * its bin's ECDF midpoint `(bin + 0.5) / bins`. Approximation error
    * vs the exact mid-rank position is ≤ 1/(2·bins) plus within-bin tie
    * displacement — at bins = 1000, below any downstream threshold's
    * resolution.
    *
    * Shuffle shape: ONE percentile pass for the edges — exact by
    * default (the gate-grade form), or a fixed-size
    * `approx_percentile` sketch with `approxEdges = true` (the 100 TB
    * default; a shifted edge moves a row's midpoint by at most one bin
    * — spec-pinned against the exact form). Then the transform itself
    * is an in-row fold over the broadcast edge array: MAP-ONLY, no
    * vocabulary window, no join back — the properties the exact form
    * cannot promise on continuous input. Positions are a fixed rational
    * dag over exact longs — order-immune and engine-identical. Appends
    * `out` (double in (0, 1)); NULL scores pass through NULL. */
  def quantileTransformBinned(df: DataFrame, score: Column, out: String,
      bins: Int = 1000, approxEdges: Boolean = false): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val vals = df.select(score.cast("double").as("__qtb_s"))
      .filter(col("__qtb_s").isNotNull)
    require(vals.limit(1).count() == 1,
      "quantileTransformBinned: no non-NULL scores — no quantile edges exist")
    val fracs = (1 until bins).map(k =>
      s"CAST($k AS DOUBLE) / $bins").mkString(", ")
    val edgeExpr =
      if (approxEdges) s"approx_percentile(__qtb_s, array($fracs), 10000)"
      else s"percentile(__qtb_s, array($fracs))"
    val edges = vals.agg(expr(edgeExpr).as("__qtb_e"))
    df.crossJoin(broadcast(edges))
      .withColumn(out, when(score.isNull, lit(null).cast("double"))
        .otherwise((aggregate(col("__qtb_e"), lit(0L),
            (acc, e) => acc + when(score.cast("double") > e, 1L).otherwise(0L))
          .cast("double") + lit(0.5)) / lit(bins.toDouble)))
      .drop("__qtb_e")
  }

  /** ISOTONIC CALIBRATION by pool-adjacent-violators over the binned
    * calibration curve — the principled monotone upgrade of
    * [[calibrationCurve]] (which only DIAGNOSES miscalibration):
    * Zadrozny & Elkan 2002's isotonic recalibration, fit on the same
    * `floor(p·bins)` grid so the corpus-side cost is ONE bounded-bin
    * aggregate with exact integer `(n, pos)` accumulators (map-side
    * combined; the grid is `bins` rows regardless of corpus size —
    * 100 TB changes nothing). PAV itself runs driver-side over the
    * ≤`bins` collected rows (the PCA driver-eigen precedent: a
    * fixed-size reduction, not data): blocks pool while a block mean
    * exceeds its successor's, and every bin reports its block's pooled
    * `pos/n` — a single division of exact longs, so the fitted value is
    * engine-identical (the oracle reaches the same number through the
    * minimax characterization `f(k) = max_{i≤k} min_{j≥k} avg(i..j)`:
    * any attaining pair is the same real quotient, and IEEE division
    * correctly rounds equal reals equally). Returns one row per
    * NON-EMPTY bin: `(bin, n, pos, fitted)`, fitted nondecreasing. */
  def isotonicCalibration(df: DataFrame, label: Column, score: Column,
      bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val spark = df.sparkSession
    val bin = least(floor(score * lit(bins.toDouble)), lit(bins - 1.0)).cast("long")
    val curve = df.select(bin.as("bin"), label.cast("boolean").as("__iso_y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__iso_y"), 1L).otherwise(0L)).as("pos"))
      .orderBy("bin")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // PAV: pool while the previous block's mean exceeds the next's
    final case class Block(var lo: Int, var n: Long, var pos: Long) {
      def mean: Double = pos.toDouble / n
    }
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    curve.zipWithIndex.foreach { case ((_, n, pos), i) =>
      stack += Block(i, n, pos)
      while (stack.length > 1 &&
          stack(stack.length - 2).mean > stack.last.mean) {
        val top = stack.remove(stack.length - 1)
        stack.last.n += top.n
        stack.last.pos += top.pos
      }
    }
    val fitted = new Array[Double](curve.length)
    for (bi <- stack.indices) {
      val hi = if (bi + 1 < stack.length) stack(bi + 1).lo else curve.length
      for (k <- stack(bi).lo until hi) fitted(k) = stack(bi).mean
    }
    import spark.implicits._
    curve.zipWithIndex.map { case ((b, n, pos), i) => (b, n, pos, fitted(i)) }
      .toSeq.toDF("bin", "n", "pos", "fitted")
  }

  /** GROUPED GINI COEFFICIENT — the corpus-balance inequality number
    * (the mixture-audit sibling of [[graft.operators.Sampling]]'s
    * temperature reweighting: a source whose token mass concentrates in
    * a handful of giant documents behaves like a much smaller source
    * after any per-doc cap, and Gini is the standard single number for
    * that concentration; 0 = perfectly even, → 1 = one doc owns
    * everything). Exact rank form over ascending `(value, tieBreak)`:
    * `G = (2·Σ i·x_i) / (n·Σ x) − (n + 1)/n` with `i` the 1-based rank.
    *
    * Engine-identity: `value` is required INTEGRAL (the q179 moment
    * trick — `Σ i·x_i` and `Σ x` are then EXACT BIGINT sums, immune to
    * float order), the rank window is group-keyed (one exchange, no
    * global sort), and G is a fixed dag of two divisions over exact
    * integers. Degenerate all-zero-mass groups report NULL via nullif.
    * Domain: values must be NON-NEGATIVE (Gini is a share-of-mass
    * statistic; a negative mass makes G overshoot its (n−1)/n ceiling
    * and a mixed-sign group summing to zero would masquerade as the
    * zero-mass NULL case) — a negative value fails AT EXECUTION via an
    * in-plan raise_error naming its group, keeping the operator lazy.
    * Overflow contract (DELIBERATE, r18): `Σ i·x` and `n·total` are
    * long products that overflow around 10¹⁹ aggregate token mass per
    * group — ANSI mode fails loudly there, and the fix at that scale is
    * to re-cast the two sums to DECIMAL(38,0) (same plan shape, ~2×
    * aggregate cost). That fallback is intentionally NOT pre-paid in
    * code: no realistic per-group token mass approaches 2⁶³ (10¹⁹
    * tokens ≈ 10⁷ × the largest public crawl), and an unused decimal
    * path would just be untested weight.
    * Returns `(g, n, total, gini)` unrounded. */
  def giniByGroup(df: DataFrame, group: Column, value: Column,
      tieBreak: Column): DataFrame = {
    val base = df.select(group.as("g"),
        when(value.cast("long") < 0, raise_error(concat(
            lit("giniByGroup: negative value in group "), group.cast("string"),
            lit(" — Gini is a share-of-mass statistic over non-negative values"))))
          .otherwise(value.cast("long")).as("__gini_x"),
        tieBreak.as("__gini_t"))
      .filter(col("__gini_x").isNotNull)
    val w = Window.partitionBy("g").orderBy(col("__gini_x"), col("__gini_t"))
    base
      .withColumn("__gini_i", row_number().over(w).cast("long"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(col("__gini_x")).as("total"),
        sum(col("__gini_i") * col("__gini_x")).as("__gini_ix"))
      .select(col("g"), col("n"), col("total"),
        ((col("__gini_ix") * 2).cast("double") /
            nullif(col("n") * col("total"), lit(0L)).cast("double") -
          (col("n") + 1).cast("double") / col("n")).as("gini"))
  }

  /** GROUPED CLOSED-FORM SIMPLE LINEAR REGRESSION — the per-slice
    * diagnostic fit (does token count scale linearly with characters?
    * does quality drift with length per source?) as ONE aggregate:
    * slope, intercept and R² from the five moment sums
    * `(n, Σx, Σy, Σxy, Σx², Σy²)`.
    *
    * Engine-identical by construction: x and y are required INTEGRAL
    * (cast to long — the moments are then EXACT BIGINT sums, immune to
    * float-summation order, the same trick as [[graft.operators
    * .Multimodal.AudioMeta]]'s integer stats), and each reported value
    * is a fixed dag of double ops over those exact integers —
    * `slope = (n·Σxy − ΣxΣy) / (n·Σx² − (Σx)²)` as one division,
    * `r² = num² / (den_x·den_y)` with the squares taken in DOUBLE
    * (num ~ n·Σxy would overflow a long squared). A degenerate group
    * (constant x or n < 2) reports NULL slope/intercept/r2 via
    * `nullif` rather than a divide-by-zero artifact. Shuffle shape:
    * one map-side-combined group aggregate; nothing else. Overflow
    * contract: moments must fit a long (ANSI mode throws loudly
    * otherwise); a >2⁶³-moment corpus slice would move to DECIMAL
    * sums, same shape. Returns `(g, n, slope, intercept, r2)`
    * unrounded. */
  def groupedOls(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    val base = df.select(group.as("g"),
        x.cast("long").as("__ols_x"), y.cast("long").as("__ols_y"))
      .filter(col("__ols_x").isNotNull && col("__ols_y").isNotNull)
    val agg = base.groupBy("g").agg(
      count(lit(1)).as("n"),
      sum(col("__ols_x")).as("sx"),
      sum(col("__ols_y")).as("sy"),
      sum(col("__ols_x") * col("__ols_y")).as("sxy"),
      sum(col("__ols_x") * col("__ols_x")).as("sxx"),
      sum(col("__ols_y") * col("__ols_y")).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val denX = col("n") * col("sxx") - col("sx") * col("sx")
    val denY = col("n") * col("syy") - col("sy") * col("sy")
    agg.select(col("g"), col("n"),
      (num.cast("double") / nullif(denX, lit(0L)).cast("double")).as("slope"),
      (((col("sy") - (num.cast("double") / nullif(denX, lit(0L)).cast("double")) * col("sx")))
        / col("n")).as("intercept"),
      ((num.cast("double") * num.cast("double")) /
        nullif(denX.cast("double") * denY.cast("double"), lit(0.0))).as("r2"))
  }

  /** RECIPROCAL RANK FUSION — Cormack, Clarke & Buettcher 2009's
    * rank-only hybrid-retrieval combiner: given per-query rankings from
    * heterogeneous retrievers (lexical BM25, dense ANN, …), each item
    * scores `Σ_lists 1/(kRrf + rank)` and the fused top-k re-ranks on
    * that. Rank-only fusion needs no score normalization across
    * retrievers — the reason RRF is the default hybrid combiner — and
    * items present in only some lists simply collect fewer terms.
    * Inputs are `(qid, id, rn)` frames (any extra columns ignored);
    * output `(qid, id, rrf, n_lists, rn)` with the (rrf DESC, id)
    * house tie-break. Shuffle shape: one union of the (bounded,
    * already-top-k) ranking tables + one (qid, id)-keyed aggregate + a
    * per-qid window over ≤ Σk rows — nothing corpus-sized appears
    * anywhere (the corpus work happened inside the retrievers). */
  def rrfFuse(rankings: Seq[DataFrame], kRrf: Int, topK: Int): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf >= 0, s"kRrf must be >= 0, got $kRrf")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val unioned = rankings
      .map(_.select(col("qid"), col("id"), col("rn").cast("long").as("rn")))
      .reduce(_ union _)
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("id"))
    unioned
      .groupBy("qid", "id")
      .agg(sum(lit(1.0) / (lit(kRrf.toDouble) + col("rn"))).as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
  }

  /** Score rows under a trained logistic model: adds `z` (the linear
    * score, left-assoc as trained) and `p = σ(z)`. Map-only — the model
    * rides in as plan literals, the corpus never shuffles. */
  def logisticScore(df: DataFrame, features: Seq[Column],
      weights: Array[Double]): DataFrame = {
    require(weights.length == features.length + 1,
      s"weights must be d+1 (got ${weights.length} for d=${features.length})")
    val z = zOf(weights, features)
    df.withColumn("z", z)
      .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("z"))))
  }

  /** UNIGRAM KL / JENSEN–SHANNON DIVERGENCE between two corpus slices —
    * the distribution-shift audit a pipeline runs before mixing sources
    * or retraining on a moved corpus (the DSIR/CCNet world's "how far
    * is slice A from slice B" number; also the drift trigger for the
    * index-recenter cadence the ANN operators document). Unigram
    * distributions over the UNION vocabulary with add-one (Laplace)
    * smoothing — `p(w) = (c(w)+1)/(T+V)` — so both directions are
    * finite even on disjoint vocabularies:
    *   kl_ab = Σ p_A ln(p_A/p_B), kl_ba symmetric,
    *   js = ½Σ p_A ln(p_A/m) + ½Σ p_B ln(p_B/m), m = (p_A+p_B)/2
    * (JS is the symmetric, [0, ln 2]-bounded one to threshold on).
    *
    * Shape at scale: ONE map-side-combined count aggregate keyed by
    * term (shuffle = union-vocabulary volume, Heaps-law sublinear in
    * the corpus — the q42/q94 argument), a 1-row totals aggregate, and
    * a second vocabulary-sized pass folding the divergence sums — the
    * corpus itself is read once and never reshuffled. Returns ONE row
    * `(n_vocab, t_a, t_b, kl_ab, kl_ba, js)` unrounded (gates round). */
  def unigramDivergence(docs: DataFrame, text: Column,
      sliceA: Column, sliceB: Column): DataFrame = {
    val tok = docs
      .select(when(sliceA, "a").when(sliceB, "b").as("side"),
        explode(split(lower(text), " ")).as("term"))
      .filter(col("side").isNotNull && col("term") =!= "")
    val counts = tok.groupBy("term").agg(
      sum(when(col("side") === "a", 1L).otherwise(0L)).as("ca"),
      sum(when(col("side") === "b", 1L).otherwise(0L)).as("cb"))
    val totals = counts.agg(
      sum("ca").as("ta"), sum("cb").as("tb"), count(lit(1)).as("v"))
    counts.crossJoin(broadcast(totals))
      .select(col("ta"), col("tb"), col("v"),
        ((col("ca") + lit(1L)) / (col("ta") + col("v"))).as("pa"),
        ((col("cb") + lit(1L)) / (col("tb") + col("v"))).as("pb"))
      .select(col("ta"), col("tb"), col("v"), col("pa"), col("pb"),
        ((col("pa") + col("pb")) / lit(2.0)).as("m"))
      .groupBy("ta", "tb", "v")
      .agg(
        sum(col("pa") * log(col("pa") / col("pb"))).as("kl_ab"),
        sum(col("pb") * log(col("pb") / col("pa"))).as("kl_ba"),
        (sum(col("pa") * log(col("pa") / col("m"))) * lit(0.5) +
          sum(col("pb") * log(col("pb") / col("m"))) * lit(0.5)).as("js"))
      .select(col("v").as("n_vocab"), col("ta").as("t_a"), col("tb").as("t_b"),
        col("kl_ab"), col("kl_ba"), col("js"))
  }

  /** BM25 TOP-K RETRIEVAL — the classic probabilistic ranking function
    * (Robertson–Spärck Jones; the Lucene/Elasticsearch default), the
    * retrieval-side primitive a training-data pipeline uses for
    * "find the corpus documents most relevant to these probe queries"
    * (eval-set leakage triage, targeted subset mining, RAG corpus
    * curation). Per query q and document D:
    * `score = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * with the Lucene idf `ln(1 + (N − df + 0.5)/(df + 0.5))` (always
    * ≥ 0, unlike the raw RSJ log which goes negative past df > N/2).
    *
    * `queries` is a `(qid, term)` relation — TINY by construction (probe
    * sets), and the scale hinge: its distinct terms broadcast into a
    * semi-restriction of the token table, so tf/df aggregate ONLY
    * query-term postings (shuffle volume = query-term postings, not the
    * corpus vocabulary); df is still full-corpus df for those terms
    * (the q42 restrict-tf-never-df discipline). dl/avgdl/N come from the
    * unrestricted token table — one dl aggregate + a 1-row broadcast.
    * N counts documents WITH at least one token (an empty document can
    * match nothing and its dl=0 contributes no length signal).
    *
    * Output: top `k` docs per qid as `(qid, doc_id, score6, n_terms,
    * rn)` — scored on the 6-decimal ROUNDED sum with doc_id tie-break
    * (the q94 ordering discipline: the cross-engine order at the limit
    * boundary must not hinge on a last-ulp float-sum difference);
    * `n_terms` = matched distinct query terms. */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
      queries: DataFrame, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tok = docs
      .select(id.as("doc_id"), explode(split(lower(text), " ")).as("term"))
      .filter(col("term") =!= "")
    // Doc lengths IN-ROW (r20): `size(filter(split(...)))` counts the
    // exact tokens the explode emits, so dl is map-only — the previous
    // `tok.groupBy(doc_id).count` both re-ran the corpus explode (tok
    // feeds the tf join too; map-side subtrees are never reuse-deduped)
    // and paid a full token-table aggregate for what is per-row state.
    // The aggregate form only saw docs with >= 1 token (explode emits
    // nothing otherwise), so the in-row form filters dl > 0 to keep
    // n_docs/avgdl identical; null text yields null size and is
    // likewise dropped by the filter.
    // ... and persisted: dl has two consumers (the stats total and the
    // weight join) and, being map-side, would otherwise re-split the
    // corpus once per consumer — the (doc_id, dl) table is two narrow
    // columns, the cheapest possible cache.
    val dlHeld = CacheDiscipline.hold(docs
      .select(id.as("doc_id"),
        size(filter(split(lower(text), " "), t => t =!= "")).cast("long").as("dl"))
      .filter(col("dl") > 0L))
    val dl = dlHeld.df
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val qterms = queries.select(col("qid"), col("term")).distinct()
    val terms = broadcast(qterms.select("term").distinct())
    val tf = tok.join(terms, "term")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wt = tf
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"),
        (log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("wt"))
    val scored = wt.join(broadcast(qterms), "term")
      .groupBy("qid", "doc_id")
      .agg(graft.functions.Rounding.portable(sum("wt"), 6).as("score6"),
        count(lit(1)).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score6").desc, col("doc_id"))
    // materialize the top-k output, release the dl cache (r21 lifecycle
    // rule — CacheDiscipline)
    CacheDiscipline.materialized(
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select(col("qid"), col("doc_id"), col("score6"), col("n_terms"),
          col("rn").cast("long").as("rn")),
      dlHeld)
  }

  /** COHEN'S KAPPA — chance-corrected agreement between two categorical
    * raters over the same rows (Cohen 1960): the standard number for
    * "does my cheap heuristic labeler agree with the reference labels
    * beyond what marginal frequencies alone would produce" — accuracy
    * (q135/q141/q147's observable) rewards a rater that just predicts
    * the majority class; kappa subtracts that chance floor.
    * `po` = observed agreement, `pe` = Σ_c p_a(c)·p_b(c) expected under
    * independent raters with the observed marginals,
    * `kappa = (po − pe) / (1 − pe)`.
    *
    * Exactness: the confusion matrix, both marginals and the diagonal
    * stay BIGINT end to end; kappa's closing form is computed on the
    * exact integer numerators — `kappa = (n·agree − Σ rowM·colM) /
    * (n² − Σ rowM·colM)` — so the single division is the only float
    * (the q154 ROC-AUC discipline; the two products lift to
    * decimal(38,0), which BIGINT overflows past ~3e9 rows). Degenerate
    * pe = 1 (pe_num = n², which forces both raters constant AND equal,
    * hence total agreement): the raw formula is 0/0, so the division is
    * guarded — kappa = 1 exactly, matching the scaladoc'd limit and the
    * q166 oracle's mirrored CASE (ADVICE r16: the NaN would otherwise
    * flow into the gate on a single-category corpus).
    *
    * Scale shape — the input is consumed ONCE: confusion cells and both
    * marginals come out of a single GROUPING SETS aggregate ((la,lb),
    * (la), (lb) — one corpus pass, partial map-side over the 3-way
    * Expand), reduced by one label-keyed pivot and a 1-row fold. The
    * naive restatement (conf → two marginal re-aggregations → join)
    * plans the corpus-sized upstream THREE times — column pruning makes
    * the three exchanges differ, so exchange reuse never kicks in (this
    * operator's plan-dump postmortem; the q168 ARI lesson applied).
    * n = Σ row-marginals, so even the global count needs no extra set.
    * Inputs: `rated` with categorical columns `ra`, `rb` (NULLs are a
    * rating category only if pre-coalesced by the caller; NULL keys
    * group together in both engines). Returns ONE row
    * (n, agree, pe_num, kappa). */
  def cohensKappa(rated: DataFrame, ra: Column, rb: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val g = rated.select(ra.as("la"), rb.as("lb"))
      .groupingSets(
        Seq(Seq(col("la"), col("lb")), Seq(col("la")), Seq(col("lb"))),
        col("la"), col("lb"))
      .agg(count(lit(1)).as("cnt"), grouping_id().cast("int").as("gid"))
    // gid 0 = (la,lb) cell, 1 = la marginal (lb aggregated), 2 = lb
    // marginal; pivot by label so Σ am·bm needs no marginal-vs-marginal
    // join — a NULL rating category coalesces consistently on both axes
    val byLabel = g.groupBy(coalesce(col("la"), col("lb")).as("lbl")).agg(
      coalesce(sum(when(col("gid") === 1, col("cnt"))), lit(0L)).as("am"),
      coalesce(sum(when(col("gid") === 2, col("cnt"))), lit(0L)).as("bm"),
      coalesce(sum(when(col("gid") === 0 && col("la") === col("lb"),
        col("cnt"))), lit(0L)).as("diag"))
    byLabel.agg(
        sum(col("am")).as("n"),
        sum(col("diag")).as("agree"),
        coalesce(sum(col("am").cast(dec) * col("bm")), lit(0L).cast(dec))
          .as("pe_num"))
      .select(col("n"), col("agree"), col("pe_num").cast("long").as("pe_num"),
        when(col("n").cast(dec) * col("n") === col("pe_num"), lit(1.0))
          .otherwise(
            (col("n").cast(dec) * col("agree") - col("pe_num")).cast("double") /
              (col("n").cast(dec) * col("n") - col("pe_num")).cast("double"))
          .as("kappa"))
  }

  /** ROBUST per-group DISTRIBUTION STATS — median / quartiles / MAD /
    * trimmed mean / Tukey-fence outlier count: the outlier-resistant
    * profile a corpus audit wants where q115/q120's Gopher gates use
    * fixed thresholds (a handful of 100 MB documents moves a group MEAN
    * arbitrarily; it cannot move the median or MAD at all). Quantiles
    * are EXACT with linear interpolation (`percentile` ≡ DuckDB
    * `quantile_cont` ≡ numpy `linear`): p25/p50/p75, IQR,
    * MAD = median(|x − median|) via one join-back pass,
    * trimmed mean = mean of x ∈ [p10, p90] (inclusive), and
    * n_outliers = |{x outside p25 − 1.5·IQR, p75 + 1.5·IQR}| (Tukey's
    * fences). Scale shape: exact `percentile` sort-aggregates each
    * group — EXACTLY two corpus passes: quantiles, then one combined
    * deviation/trim/fence aggregate against the broadcast per-group
    * quantile row, which also carries n and the quantiles through (as
    * per-group-constant max()) so no closing join re-plans the quantile
    * pass a third time. At 100 TB swap `percentile` for
    * `approx_percentile` (Greenwald–Khanna, mergeable, one pass,
    * bounded rank error) — the spec pins the approx form within its
    * rank-error bound on this exact form. Returns per group
    * (g, n, p25, med, p75, iqr, mad, trimmed_mean, n_outliers)
    * unrounded. */
  def robustStats(df: DataFrame, group: Column, value: Column): DataFrame = {
    val v = df.select(group.as("g"), value.cast("double").as("x"))
    val q = v.groupBy("g").agg(
      count(lit(1)).as("n"),
      percentile(col("x"), lit(0.10)).as("p10"),
      percentile(col("x"), lit(0.25)).as("p25"),
      percentile(col("x"), lit(0.50)).as("med"),
      percentile(col("x"), lit(0.75)).as("p75"),
      percentile(col("x"), lit(0.90)).as("p90"))
    v.join(broadcast(q), "g")
      .groupBy("g").agg(
        max(col("n")).as("n"), max(col("p25")).as("p25"),
        max(col("med")).as("med"), max(col("p75")).as("p75"),
        percentile(abs(col("x") - col("med")), lit(0.50)).as("mad"),
        avg(when(col("x") >= col("p10") && col("x") <= col("p90"), col("x")))
          .as("trimmed_mean"),
        coalesce(sum(when(
          col("x") < col("p25") - lit(1.5) * (col("p75") - col("p25")) ||
          col("x") > col("p75") + lit(1.5) * (col("p75") - col("p25")), 1L)), lit(0L))
          .as("n_outliers"))
      .select(col("g"), col("n"), col("p25"), col("med"), col("p75"),
        (col("p75") - col("p25")).as("iqr"), col("mad"),
        col("trimmed_mean"), col("n_outliers"))
  }
}
