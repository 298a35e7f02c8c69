package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Rounding, TextOps}
import graft.operators.{Cleaning, Dedup, Layout, Sampling, Similarity, TextAnalysis, TimeSeries}

/** Round-3 queries: the training-data-pipeline operations a 100 TB corpus
  * build needs beyond pairwise dedup — deterministic (stratified) hash
  * sampling, dedup-cluster resolution via connected components, text
  * cleaning / PII redaction, forward fill and calendar gap fill — plus the
  * remaining SQL-surface rows (unpivot, GROUPING SETS, RANGE frames,
  * correlated scalar subqueries, array set ops, bigram counts).
  *
  * Conventions as in [[Queries]]: aliases match the oracle SQL exactly,
  * count/size/rank-family results cast to long (DuckDB BIGINT), rounding
  * via [[Rounding.portable]], ORDER BY pins a total order.
  */
object PipelineQueries {

  private def sortedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** q56: deterministic stratified hash sampling — per-returnflag keep
    * rates decided by an md5 bucket of the row key ([[Sampling]]): the
    * same rows are kept on any engine, partitioning, or run, unlike
    * `df.sample`. A pure predicate — no shuffle, pushdown-eligible. */
  def q56(t: Tables): DataFrame =
    Sampling.stratifiedHashSample(
        t.lineitem,
        concat_ws(":", col("l_orderkey"), col("l_linenumber")),
        col("l_returnflag"),
        Map("A" -> 0.25, "N" -> 0.10, "R" -> 0.50))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), Rounding.portable(sum("l_quantity"), 2).as("qty"))
      .transform(sortedSmall(_, col("l_returnflag")))

  /** q57: dedup-cluster resolution — MinHash+LSH near-dup pairs promoted
    * to components ([[Dedup.connectedComponents]]), one row per cluster
    * with its representative (min doc_id), size, and member list. This is
    * the step that makes pairwise near-dup output actionable: keep `rep`,
    * drop the other members. */
  def q57(t: Tables): DataFrame = {
    // shared memoized COMPONENT table (Tables.documentNearDupComponents)
    // — q57/q85/q106/q109 consume the identical clustering, so the suite
    // runs the iterative CC once; the cache owns the persist handle
    t.documentNearDupComponents
      .groupBy("rep")
      .agg(
        count(lit(1)).as("n"),
        array_join(transform(array_sort(collect_list(col("id"))),
          _.cast("string")), ",").as("members"))
      .transform(sortedSmall(_, col("rep")))
  }

  /** q72: q57's cluster resolution re-run through the large-star/
    * small-star CC variant ([[Dedup.connectedComponentsStars]]) — the
    * IDENTICAL oracle (DuckDB's recursive-CTE reachability) hash-gates
    * that both CC algorithms resolve the same LSH pair table to the same
    * clusters; an independent check the in-tree equivalence spec can't
    * provide. */
  def q72(t: Tables): DataFrame = {
    val p = t.documentNearDupPairs // shared memo — see q57
    Dedup.connectedComponentsStars(p)
      .groupBy("rep")
      .agg(
        count(lit(1)).as("n"),
        array_join(transform(array_sort(collect_list(col("id"))),
          _.cast("string")), ",").as("members"))
      .transform(sortedSmall(_, col("rep")))
  }

  /** q73: multimodal AUDIO pipeline with a real codec — the q40 pattern
    * applied to sound: synthesize one WAV (PCM s16le mono, content a
    * closed-form function of doc_id, see
    * [[graft.operators.Multimodal.synthWavBytes]]), decode it with
    * javax.sound.sampled (header facts from the parser, every sample read
    * back), and let the oracle re-derive channel count, rate, bit depth
    * and exact sample sum/min/max arithmetically — a decoder that
    * misparses the header or any single sample hash-mismatches. */
  def q73(t: Tables): DataFrame = {
    val blobs = graft.operators.Multimodal.synthAudio(
      t.documents.select(col("doc_id")), "doc_id")
    graft.operators.Multimodal.decodeAudio(blobs, "doc_id", "blob").toDF()
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q76: multi-frame decode ([[graft.operators.Multimodal.decodeFrames]])
    * — real animated-GIF payloads synthesized per document under the
    * closed-form contract on synthGifBytes, then REALLY decoded frame by
    * frame (javax.imageio sequence reader; frame count from a stream
    * scan). The oracle re-derives (frame, dims, exact channel sums)
    * arithmetically from doc_id — a decoder that drops a frame, reads
    * frames in the wrong order, or mis-decodes one palette entry
    * hash-mismatches. */
  def q76(t: Tables): DataFrame = {
    val blobs = graft.operators.Multimodal.synthGifs(
      t.documents.select(col("doc_id")), "doc_id")
    graft.operators.Multimodal.decodeFrames(blobs, "doc_id", "blob").toDF()
      .transform(sortedSmall(_, col("doc_id"), col("frame")))
  }

  /** q81: COMPRESSED-audio decode
    * ([[graft.operators.Multimodal.decodeUlawAudio]]) — real G.711 µ-law
    * payloads synthesized per document, DECOMPRESSED through the JDK's
    * audio format-conversion chain, exact 16-bit sample stats. The oracle
    * re-derives the µ-law expansion arithmetically (closed-form
    * sign/exponent/mantissa) — a decoder mis-expanding any single code
    * byte hash-mismatches. */
  def q81(t: Tables): DataFrame = {
    val blobs = graft.operators.Multimodal.synthUlawAudio(
      t.documents.select(col("doc_id")), "doc_id")
    graft.operators.Multimodal.decodeUlawAudio(blobs, "doc_id", "blob").toDF()
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q74: train/eval decontamination ([[Dedup.crossContamination]]) —
    * docs with doc_id % 7 == 0 play the benchmark suite; every other
    * document sharing a 5-token shingle with any of them is flagged with
    * its shared-shingle count. The fixture's near-dup twins guarantee
    * non-trivial contamination at every SF. */
  def q74(t: Tables): DataFrame = {
    val evalDocs = t.documents.filter(col("doc_id") % 7 === 0)
    val trainDocs = t.documents.filter(col("doc_id") % 7 =!= 0)
    Dedup.crossContamination(trainDocs, evalDocs, col("doc_id"), col("text"), n = 5)
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q75: INCREMENTAL corpus dedup ([[Dedup.incrementalNearDups]]) — the
    * daily-ingest operation: docs with doc_id % 5 == 0 arrive as the new
    * batch, the rest are the existing corpus represented ONLY by its
    * persisted MinHash signature table (text never re-read). Output =
    * every near-dup pair touching a new doc, at the same (8 hashes, 2
    * bands, 3-shingle, est ≥ 0.5) contract as q31 — by the composition
    * law pinned in DedupSpec this equals q31's full-corpus output
    * filtered to pairs with a new-doc side, which is exactly what the
    * oracle computes. */
  def q75(t: Tables): DataFrame = {
    val batch = t.documents.filter(col("doc_id") % 5 === 0)
    val corpus = t.documents.filter(col("doc_id") % 5 =!= 0)
    val corpusSigs = Dedup.minHashSignaturesNative(
      corpus, col("doc_id"), col("text"), shingleN = 3, numHashes = 8)
    val (pairs, _) = Dedup.incrementalNearDups(
      batch, col("doc_id"), col("text"), corpusSigs,
      numHashes = 8, bands = 2, shingleN = 3, threshold = 0.5)
    pairs
      .select(col("da"), col("db"), Rounding.portable(col("est"), 6).as("est"))
      .transform(sortedSmall(_, col("da"), col("db")))
  }

  /** q78: token-budget MIXTURE sampling
    * ([[graft.operators.Sampling.tokenBudgetSample]]) — rebalance the
    * corpus language mixture to per-mille targets (en 400 / de 200 /
    * fr 200 / es 150 / zh 50) under a 6000-token budget. The per-language
    * keep rates are derived from the data (token totals), quantized with
    * integer-only arithmetic so the oracle reproduces every kept row
    * exactly; output = what a mixture audit reads, docs + tokens kept per
    * language. */
  def q78(t: Tables): DataFrame = {
    val tok = size(split(col("text"), " ")).cast("long")
    Sampling.tokenBudgetSample(
        t.documents, col("doc_id"), col("lang"), tok,
        Map("en" -> 400, "de" -> 200, "fr" -> 200, "es" -> 150, "zh" -> 50),
        budgetTokens = 6000L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(tok).cast("long").as("tok"))
      .transform(sortedSmall(_, col("lang")))
  }

  /** q79: intra-document repetition score — the Gopher-style quality
    * filter (Rae et al., "Scaling Language Models", §A1.1: fraction of
    * duplicated n-grams within a document): rep = 1 − distinct/total
    * bigrams. Expression-only over the native `word_ngrams` (no shuffle,
    * no explode — `array_distinct` does the dedup in-row); returns the
    * docs with ANY repetition, the set a quality pipeline thresholds. */
  def q79(t: Tables): DataFrame = {
    val grams = TextOps.shinglesNative(TextOps.tokens(col("text")), 2)
    t.documents
      .select(col("doc_id"),
        size(grams).cast("long").as("n_grams"),
        size(array_distinct(grams)).cast("long").as("n_distinct"))
      .filter(col("n_grams") > 0L && col("n_distinct") < col("n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        Rounding.portable(
          lit(1.0) - col("n_distinct") / col("n_grams"), 6).as("rep_ratio"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q82: NORMALIZED decontamination — q74 with `normalize = true`
    * ([[graft.functions.TextOps.normalizeText]] both sides before
    * shingling), the published-recipe form that catches re-punctuated /
    * re-cased benchmark answers. Oracle states the identical
    * normalization relationally (DuckDB regexp_replace with the 'g'
    * flag ≡ Spark's replace-all), so the normalize path is hash-gated,
    * not just spec-covered. */
  def q82(t: Tables): DataFrame = {
    val evalDocs = t.documents.filter(col("doc_id") % 7 === 0)
    val trainDocs = t.documents.filter(col("doc_id") % 7 =!= 0)
    Dedup.crossContamination(
        trainDocs, evalDocs, col("doc_id"), col("text"), n = 5, normalize = true)
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q85: dedup-cluster COHESION audit — the QA step after cluster
    * resolution: per cluster, the member count plus the count / min /
    * mean of the estimated Jaccard over its internal pair evidence. A
    * low min_est flags a cluster glued together by LSH false positives
    * (near-dup similarity is not transitive — a chain of 0.5-pairs can
    * merge documents that share almost nothing), which is what a corpus
    * build reviews before applying keep-one. Composition: q31's pair
    * table → q57's components → one join + one aggregate. */
  def q85(t: Tables): DataFrame = {
    val p = t.documentNearDupPairs // shared pair memo
    val comp = t.documentNearDupComponents // (id, rep) — shared CC memo, see q57
    val sizes = comp.groupBy("rep").agg(count(lit(1)).as("n_members"))
    p.join(comp.select(col("id").as("da"), col("rep")), "da")
      .groupBy("rep")
      .agg(
        count(lit(1)).as("n_pairs"),
        Rounding.portable(min("est"), 6).as("min_est"),
        Rounding.portable(avg("est"), 6).as("avg_est"))
      .join(sizes, "rep")
      .select(col("rep"), col("n_members"), col("n_pairs"),
        col("min_est"), col("avg_est"))
      .transform(sortedSmall(_, col("rep")))
  }

  /** q86: EXACT-SUBSTRING decontamination
    * ([[Dedup.exactSubstringRuns]]) — the same train/eval split as q74
    * (doc_id % 7 == 0 plays the benchmark suite), but reporting each
    * maximal verbatim shared span of ≥ 8 tokens as one (doc_id, eval_id,
    * pos_train, pos_eval, run_len) row instead of a collision count:
    * the Lee et al. exact-substring recipe. The hash gate pins run
    * boundaries, positions, AND maximality (a split run would change
    * both row count and run_len). */
  def q86(t: Tables): DataFrame = {
    val evalDocs = t.documents.filter(col("doc_id") % 7 === 0)
    val trainDocs = t.documents.filter(col("doc_id") % 7 =!= 0)
    Dedup.exactSubstringRuns(trainDocs, evalDocs, col("doc_id"), col("text"), minRun = 8)
      .transform(sortedSmall(_, col("doc_id"), col("eval_id"),
        col("pos_train"), col("pos_eval")))
  }

  /** q87: EXACT-dup incremental guard ([[Dedup.exactDupsAgainstCorpus]])
    * — the re-crawl scenario: the day's batch is the novel docs
    * (doc_id % 5 == 0) PLUS a slice of the existing corpus re-ingested
    * under new ids (doc_id % 11 == 0, shifted by 100000 — a page crawled
    * twice). The bloom prefilter + exact confirm join must flag exactly
    * the re-ingested copies; the bloom's bits are not oracle-portable,
    * but the CONFIRMED output is deterministic (false positives die in
    * the confirm join, false negatives cannot exist), so the gate pins
    * the end-to-end result. */
  def q87(t: Tables): DataFrame = {
    val corpus = t.documents.filter(col("doc_id") % 5 =!= 0)
    val corpusHashes = corpus.select(col("doc_id"), md5(col("text")).as("md5"))
    val batch = t.documents.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(corpus.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    Dedup.exactDupsAgainstCorpus(corpusHashes, batch, col("doc_id"), col("text"),
        expectedItems = 1000000L)
      .transform(sortedSmall(_, col("doc_id"), col("corpus_id")))
  }

  /** q88: EXACT-SUBSTRING self dedup ([[Dedup.exactSubstringSelfRuns]])
    * — q86's method turned on the whole corpus: every maximal verbatim
    * run of ≥ 8 shared tokens between two distinct documents, da < db.
    * This is the Lee et al. DEDUP operation proper (q86's train/eval
    * split is its decontamination special case). */
  def q88(t: Tables): DataFrame =
    Dedup.exactSubstringSelfRuns(t.documents, col("doc_id"), col("text"), minRun = 8)
      .transform(sortedSmall(_, col("da"), col("db"), col("pos_a"), col("pos_b")))

  /** q145: q88 through the `dfCap` STOP-SHINGLE escape hatch — the
    * hot-boilerplate guard [[Dedup.exactSubstringSelfRuns]] carries for
    * Zipfian corpora. Every document gets the same 11-token banner
    * prefixed (a cookie-banner stand-in), so WITHOUT the cap the banner
    * shingles would collide across every doc pair and the self-join
    * would be quadratic in the corpus (500 docs → 125k pair-islands at
    * sf0.001 from the banner alone). `dfCap = 50` drops every shingle
    * present in more than 50 distinct documents BEFORE the join — the
    * banner (df = corpus size) vanishes, genuine cross-doc runs in the
    * underlying text survive with their positions shifted by the 11
    * banner tokens. The oracle rebuilds the cap with an anti join on
    * `count(DISTINCT doc_id) > 50`, so the gate proves the DROP
    * semantics, not just the happy path (the q128 discipline applied to
    * q88; the `exactsub_hotshingle` probe measured the capped-vs-uncapped
    * separation this exists for — ×4 corpus: uncapped wall 4.3×
    * quadratic, capped 1.0× flat, banner pair count closed-form
    * verified at n·(n−1)/2; recorded in ROUND_NOTES.md, round 14, probe
    * source `Soak.scala` at 99b069a). */
  def q145(t: Tables): DataFrame = {
    val banner = "please accept our cookie policy to continue reading this site today"
    val docs = t.documents.select(col("doc_id"),
      concat(lit(banner + " "), col("text")).as("text"))
    Dedup.exactSubstringSelfRuns(docs, col("doc_id"), col("text"),
        minRun = 8, dfCap = Some(50L))
      .transform(sortedSmall(_, col("da"), col("db"), col("pos_a"), col("pos_b")))
  }

  /** q91: domain-authority PAGERANK ([[graft.operators.Graph
    * .weightedPageRank]]) — the crawl-curation centrality signal: a
    * deterministic synthetic domain link graph over the corpus (each doc
    * links its `site{doc_id%7}` domain to `site{doc_id%5}`, multi-edges
    * folded into weights, self-loops dropped), ranked by 3 damped
    * iterations. The hash gate pins transition normalization, the
    * dangling/teleport semantics (in-degree-0 domains sit at exactly
    * (1−d)/n) and the fixed-iteration arithmetic. */
  def q91(t: Tables): DataFrame = {
    val links = t.documents.select(
        concat(lit("site"), (col("doc_id") % 7).cast("string")).as("src"),
        concat(lit("site"), (col("doc_id") % 5).cast("string")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    graft.operators.Graph.weightedPageRank(links, iters = 3, damping = 0.85)
      .select(col("node").as("domain"), Rounding.portable(col("rank"), 6).as("rank"))
      .transform(sortedSmall(_, col("domain")))
  }

  /** q92: Z-ORDER clustering key ([[graft.operators.Layout.zValue2]]) —
    * the multi-dimensional layout key (Delta/Iceberg `ZORDER BY`): 8-bit
    * bins of quantity × price interleaved into one Morton key, gated on
    * a deterministic row sample so every bit position's arithmetic is
    * hash-pinned across engines (a misplace of one bit changes z). Both
    * sides bin via floor (DuckDB's CAST(double AS BIGINT) ROUNDS — the
    * §5.4 hazard). */
  def q92(t: Tables): DataFrame = {
    val xb = floor(col("l_quantity")).cast("long")
    val yb = least(lit(255L), floor(col("l_extendedprice") / 500.0).cast("long"))
    t.lineitem
      .filter(col("l_orderkey") % 503 === 0)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        graft.operators.Layout.zValue2(xb, yb, 8).as("z"))
      .transform(sortedSmall(_, col("l_orderkey"), col("l_linenumber")))
  }

  /** q158: HILBERT clustering key ([[Layout.hilbertValue2]]) — q92's
    * better-locality sibling over the IDENTICAL binning: consecutive
    * curve positions are always grid-adjacent, so range predicates
    * touch fewer files at the same file count (the `hilbert_ab` probe
    * measured it, recorded in ROUND_NOTES.md, "Probe results kept when
    * Soak's A/B modes were deleted"; probe source `Soak.scala` at
    * 99b069a; this gate pins the curve arithmetic — every level's
    * quadrant digit, reflection and transposition — against the same
    * transform unrolled as per-level SQL CTEs). */
  def q158(t: Tables): DataFrame = {
    val xb = floor(col("l_quantity")).cast("long")
    val yb = least(lit(255L), floor(col("l_extendedprice") / 500.0).cast("long"))
    t.lineitem
      .filter(col("l_orderkey") % 503 === 0)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        graft.operators.Layout.hilbertValue2(xb, yb, 8).as("h"))
      .transform(sortedSmall(_, col("l_orderkey"), col("l_linenumber")))
  }

  /** q158 oracle: the xy→d Hilbert transform unrolled as one CTE per
    * level (top bit down) — each layer computes the quadrant digit and
    * the reflected/transposed (x, y) for the next; generated like the
    * q92 interleave SQL, but layered because the transform carries
    * state. */
  private def hilbertOracle(bits: Int): String = {
    val levels = ((bits - 1) to 0 by -1).zipWithIndex.map { case (i, k) =>
      val s = 1L << i
      val prev = if (k == 0) "s0" else s"l${k - 1}"
      val rx = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)"
      s"""l$k AS (SELECT l_orderkey, l_linenumber,
        d + ${s * s} * xor(3 * $rx, $ry) AS d,
        CASE WHEN $ry = 0
             THEN CASE WHEN $rx = 1 THEN ${s - 1} - y ELSE y END
             ELSE x END AS x,
        CASE WHEN $ry = 0
             THEN CASE WHEN $rx = 1 THEN ${s - 1} - x ELSE x END
             ELSE y END AS y
        FROM $prev)"""
    }
    s"""WITH s0 AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
          CAST(floor(l_quantity) AS BIGINT) AS x,
          least(255, CAST(floor(l_extendedprice / 500.0) AS BIGINT)) AS y,
          CAST(0 AS BIGINT) AS d
        FROM lineitem WHERE l_orderkey % 503 = 0),
      ${levels.mkString(",\n      ")}
      SELECT l_orderkey, l_linenumber, CAST(d AS BIGINT) AS h
      FROM l${bits - 1}
      ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST"""
  }

  /** q164: WEIGHTED sampling WITHOUT replacement
    * ([[Sampling.weightedSample]]) — Efraimidis–Spirakis per-stratum
    * top-k by `ln(u)/w` with the deterministic md5 uniform: 5 docs per
    * source drawn proportional to n_chars, no duplicates. The gate pins
    * every selected doc, its 9-decimal key and rank; the oracle
    * re-derives u from the same md5 arithmetic (the q155 hash idiom)
    * and replays the ranking. One window exchange on the stratum key. */
  def q164(t: Tables): DataFrame =
    Sampling.weightedSample(t.documents, col("doc_id"), col("n_chars"),
        col("source"), k = 5)
      .select(col("source"), col("doc_id"), col("wkey9"), col("rn"))
      .transform(sortedSmall(_, col("source"), col("rn")))

  /** q93: deterministic TRAIN/VAL/TEST split
    * ([[Sampling.hashSplit]]) — 80/10/10 over the corpus by doc_id
    * md5-bucket ranges; the gate pins the per-split doc and token
    * totals, i.e. the exact membership (a single doc switching splits
    * changes both aggregates). */
  def q93(t: Tables): DataFrame =
    Sampling.hashSplit(t.documents, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .transform(sortedSmall(_, col("split")))

  /** q94: PMI collocation extraction
    * ([[graft.operators.TextAnalysis.pmiCollocations]]) — top-20 adjacent
    * token pairs by pointwise mutual information (min pair count 5),
    * ordered on the ROUNDED score so the cross-engine ordering at the
    * limit boundary cannot hinge on a last-ulp difference. */
  def q94(t: Tables): DataFrame =
    TextAnalysis.pmiCollocations(t.documents, col("text"), minCount = 5L)
      .select(col("w1"), col("w2"), col("n_ab"),
        Rounding.portable(col("pmi"), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
      .transform(sortedSmall(_, col("pmi").desc, col("w1"), col("w2")))

  /** q109: quality-aware keep-one
    * ([[graft.operators.Dedup.keepBestNearDups]]) — q106's census under
    * the keep-LONGEST policy (quality = n_chars): per source, the docs
    * and tokens surviving when each near-dup cluster keeps its longest
    * member instead of its min-id one. */
  def q109(t: Tables): DataFrame =
    Dedup.keepBestNearDupsByComponents(t.documents, col("doc_id"), col("n_chars"),
        t.documentNearDupComponents)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .transform(sortedSmall(_, col("source")))

  /** q111: day-over-day novelty from MERGEABLE sketches
    * ([[graft.operators.ApproxOps.kmvSketch]]) — q103's saturation
    * question answered the way an incremental 100 TB ingest must: each
    * "day" (doc_id % 10) builds a bottom-64 KMV sketch of its trigrams
    * ONCE; the cumulative view then merges k-row SKETCHES, never
    * re-aggregating raw days. The bottom-k-of-union = union-of-bottom-k
    * semilattice identity makes the merged sketch — and therefore the
    * estimate — bit-reproducible by the oracle from raw data, so the gate
    * pins mergeability itself. The accuracy-vs-exact pin lives in
    * ApproxOpsSpec at fixture scale (r17): the exact cumulative recount
    * that used to ride along in this query was a full distinct-trigram
    * scan × 10 broadcast days whose only purpose was gate-side context —
    * the suite's most load-sensitive bench leg (6.0 s in the r16 driver
    * capture for a k-row sketch query), exactly the cost profile a
    * production incremental ingest runs sketches to AVOID paying. */
  def q111(t: Tables): DataFrame = {
    val k = 64
    val sh = t.documents.select((col("doc_id") % 10).as("slice"),
      explode(TextOps.shinglesNative(TextOps.tokens(col("text")), 3)).as("w"))
    val sk = graft.operators.ApproxOps.kmvSketch(sh, col("slice"), col("w"), k)
    val days = sk.select(col("grp").as("day")).distinct()
    // cumulative merge over the bounded day axis: remap each day-d sketch
    // row to every day >= d (a ≤10-row broadcast), bottom-k per day
    val merged = graft.operators.ApproxOps.kmvMerge(
      sk.join(broadcast(days), sk("grp") <= col("day"))
        .select(col("day").as("grp"), col("h")), k)
    merged.groupBy("grp")
      .agg(count(lit(1)).as("n_sketch"), max("h").as("hmax"))
      .withColumnRenamed("grp", "day")
      .select(col("day"), col("n_sketch"),
        when(col("n_sketch") === k, col("hmax")).otherwise(lit("")).as("kth_hash"),
        Rounding.portable(
          graft.operators.ApproxOps.kmvEstimate(col("n_sketch"), col("hmax"), k),
          6).as("est_cum"))
      .transform(sortedSmall(_, col("day")))
  }

  /** q112: real-subword token accounting ([[TextOps.bpeTokens]]) — the
    * `ceil(len/4)` heuristic every budget operator runs on, replaced by an
    * actual WordPiece-style greedy longest-match tokenizer (native
    * [[graft.plans.BpeTokenize]] expression, fixture merges in
    * [[graft.plans.BpeVocab]] — the SAME Scala value interpolated into
    * the oracle's VALUES list, so vocab drift is impossible). Per doc:
    * whitespace word count, subword piece count, their ratio, and the
    * full piece sequence — the hash pins every segmentation decision on
    * every word in the corpus against DuckDB's recursive re-derivation.
    * One map-side expression; no shuffle beyond the output sort. */
  def q112(t: Tables): DataFrame =
    t.documents.select(col("doc_id"),
        TextOps.tokens(col("text")).as("__bpe_toks"),
        TextOps.bpeTokens(col("text")).as("__bpe_p"))
      .select(col("doc_id"),
        size(col("__bpe_toks")).cast("long").as("n_words"),
        size(col("__bpe_p")).cast("long").as("n_pieces"),
        Rounding.portable(size(col("__bpe_p")).cast("double") /
          size(col("__bpe_toks")), 6).as("bpe_ratio"),
        array_join(col("__bpe_p"), " ").as("pieces"))
      .transform(sortedSmall(_, col("doc_id")))

  /** q113: sequence packing budgeted in REAL subword tokens — q84's
    * fill audit re-expressed over [[TextOps.bpeTokenCount]] instead of
    * the whitespace word count, completing the heuristic→real-tokenizer
    * swap q112 proved out. A production loader packs to a model's
    * context length in the model's OWN tokens; the whitespace count
    * under-fills every sequence by the per-word piece ratio. Same
    * per-shard window shape as q84 (one exchange on the shard key); the
    * piece counting itself is the map-side native expression, so the
    * swap costs nothing at 100 TB. The oracle re-derives every word's
    * segmentation recursively (q112's CTE) and re-runs the prefix-sum
    * assignment on the summed piece counts. */
  def q113(t: Tables): DataFrame =
    TextAnalysis.packSequences(
        t.documents, col("source"), col("doc_id"),
        TextOps.bpeTokenCount(col("text")), seqLen = 512L)
      .transform(sortedSmall(_, col("shard"), col("seq_id")))

  /** q114: temperature-reweighted mixture plan
    * ([[graft.operators.Sampling.temperatureMixture]]) — the mT5-style
    * `p^α` source reweighting that DERIVES the target weights q78's
    * budget sampler consumes: per source, natural token share, α = 0.7
    * reweighted share, token target under a 1M budget, and the epochs
    * (upsampling factor) the loader must apply. One |sources|-row
    * aggregate; normalizations are 1-row broadcast arithmetic. */
  /** q115: Gopher-style quality gate ([[graft.operators.Cleaning
    * .gopherRules]]) — the published heuristic battery (word-count and
    * mean-word-length bounds, minimum stopword hits, top-2-gram
    * character-fraction ceiling) per doc, with the doc_id % 10 == 4
    * slice gated. Thresholds chosen so every rule family has both
    * outcomes on the fixture (stop_hits and top2_frac each fail ~25%). */
  def q115(t: Tables): DataFrame =
    graft.operators.Cleaning.gopherRules(t.documents, col("doc_id"), col("text"))
      .filter(col("id") % 10 === 4)
      // gate encoding r19: the two exact count-rationals emit as
      // micro-unit BIGINTs (round(x·1e6) — the integer snap that is the
      // same dag in every engine), not post-round(·,6) DOUBLEs whose
      // re-rounding is engine-version-defined; top2_frac landed EXACTLY
      // on a half-grid boundary in the round_semantics_exposed sweep
      .select(col("id").as("doc_id"), col("n_words"),
        round(col("mean_word_len") * lit(1e6)).cast("long").as("mwl6"),
        col("stop_hits"),
        round(col("top2_frac") * lit(1e6)).cast("long").as("top2_frac6"),
        col("keep"))
      .transform(sortedSmall(_, col("doc_id")))

  /** q116: DSIR importance weights ([[graft.operators.TextAnalysis
    * .dsirWeights]]) — hashed-unigram log-likelihood ratios against the
    * `lang = 'en'` slice as the target domain; doc_id % 10 == 5 gated.
    * The hash gate pins the bucket hash, both smoothed distributions
    * and the per-doc sum. */
  def q116(t: Tables): DataFrame =
    TextAnalysis.dsirWeights(t.documents, col("doc_id"), col("text"),
        isTarget = col("lang") === "en")
      .filter(col("id") % 10 === 5)
      .select(col("id").as("doc_id"), col("n_tok"),
        Rounding.portable(col("weight"), 6).as("weight"))
      .transform(sortedSmall(_, col("doc_id")))

  /** q117: bigram-LM cross-entropy filter scores
    * ([[graft.operators.TextAnalysis.bigramCrossEntropy]]) — add-one
    * bigram model trained on the `lang = 'en'` slice scoring every doc
    * (the CCNet perplexity-filter shape); doc_id % 10 == 6 gated. */
  def q117(t: Tables): DataFrame =
    // shared memoized LM scores (Tables.bigramCeScores, r21) — q117 +
    // q137 consume the identical trained-LM scoring chain
    t.bigramCeScores
      .filter(col("id") % 10 === 6)
      .select(col("id").as("doc_id"), col("n_bigrams"),
        Rounding.portable(col("ce"), 6).as("ce"))
      .transform(sortedSmall(_, col("doc_id")))

  /** q119: q112's subword accounting re-run against the production-SIZE
    * synthetic vocabulary ([[graft.plans.BpeVocabLarge]]: ~34k merges,
    * max piece length 5) through the trie-matched
    * [[graft.plans.BpeTokenizeVocab]] expression — the scale
    * demonstration the 60-entry fixture cannot provide: per-position
    * match cost is bounded by the max piece length, not the vocab size.
    * The oracle REGENERATES the identical vocab in closed form (letter
    * cross-join CTEs plus the curated fixture VALUES — no 300 KB
    * interpolation) and re-derives every word's segmentation with a
    * bounded substr(5..2) equality-probe ladder, which is exactly the
    * trie's bounded longest-match restated relationally. Still one
    * map-side expression; no shuffle beyond the output sort. */
  def q119(t: Tables): DataFrame =
    t.documents.select(col("doc_id"),
        TextOps.tokens(col("text")).as("__bpe_toks"),
        TextOps.bpeTokensVocab(col("text"), "synth32k").as("__bpe_p"))
      .select(col("doc_id"),
        size(col("__bpe_toks")).cast("long").as("n_words"),
        size(col("__bpe_p")).cast("long").as("n_pieces"),
        Rounding.portable(size(col("__bpe_p")).cast("double") /
          size(col("__bpe_toks")), 6).as("bpe_ratio"),
        array_join(col("__bpe_p"), " ").as("pieces"))
      .transform(sortedSmall(_, col("doc_id")))

  /** q132: TOKENIZER CENSUS — the per-source tokenizer-quality report a
    * production pipeline runs before committing a vocab to a training
    * mix: fertility (pieces per word — the classic cross-source
    * tokenizer-bias metric), single-char fallback rate (how often
    * longest-match degraded to a character — the OOV-pressure signal),
    * and chars per piece (compression). Aggregated per source over the
    * WHOLE corpus with q119's production 32k vocab; one vocab-apply map
    * stage + one source-keyed aggregate, nothing corpus-sized shuffles
    * twice. The oracle re-derives the segmentation with q119's
    * recursive probe-ladder machinery (extended to count 1-char
    * emissions) and aggregates from the doc spine so zero-token docs
    * still count. */
  def q132(t: Tables): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val pieces = TextOps.bpeTokensVocab(col("text"), "synth32k")
    t.documents
      .select(coalesce(col("source"), lit("__null__")).as("source"),
        size(toks).cast("long").as("__nw"),
        size(pieces).cast("long").as("__np"),
        size(filter(pieces, p => length(p) === 1)).cast("long").as("__ncp"),
        aggregate(toks, lit(0L), (a, w) => a + length(w)).as("__nch"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("__nw").as("n_words"),
        sum("__np").as("n_pieces"),
        Rounding.portable(sum("__np") / sum("__nw"), 6).as("fertility"),
        Rounding.portable(sum("__ncp") / sum("__np"), 6).as("char_fallback_frac"),
        Rounding.portable(sum("__nch") / sum("__np"), 6).as("chars_per_piece"))
      .transform(sortedSmall(_, col("source")))
  }

  /** q134: BOILERPLATE line removal by per-source document frequency
    * ([[Dedup.removeBoilerplateLines]]) — the RefinedWeb rule: a line in
    * `>= 4` distinct documents of the same source is navigation/footer
    * noise and EVERY occurrence goes (q122 keeps first occurrences; this
    * keeps none — the complementary cleaning stage). 2-word lines (q120's
    * width, the one at which the fixture's closed vocabulary repeats
    * lines at all): at minDocs=4 the boilerplate head is 92 of ~9.7k
    * distinct (source, line) pairs — exactly the tiny-high-df-head shape
    * that makes the operator's broadcast anti join the right plan. The
    * md5 pins every surviving line and its order. */
  def q134(t: Tables): DataFrame = {
    val words = split(col("text"), " ")
    val lineArr = transform(
      sequence(lit(0L), greatest(ceil(size(words) / lit(2.0)) - 1, lit(0L))),
      i => array_join(slice(words, (i * 2 + 1).cast("int"), lit(2)), " "))
    val structured = t.documents
      .select(col("doc_id"), col("source"), array_join(lineArr, "\n").as("text"))
    Dedup.removeBoilerplateLines(structured, col("doc_id"), col("text"),
        col("source"), minDocs = 4L)
      .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("text_clean")).as("h"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q135: DISTRIBUTED CLASSIFIER TRAINING ([[TextAnalysis.logisticTrain]])
    * — full-batch logistic-regression gradient descent over the whole
    * corpus (4 iterations, lr 0.5) on three cheap text features
    * (tokens/100, mean word length/10, en-stopword fraction), label
    * `lang = 'en'` — the fastText-style "looks like the target" filter
    * every published pretraining pipeline trains. The gate scores the
    * `doc_id % 20 = 3` slice under the learned weights and pins the
    * weights THEMSELVES (bit-identical across engines by the
    * gradient-grid-rounding design — see the operator's determinism
    * note), the linear score and probability at 6 decimals, and the
    * hard prediction. The oracle re-derives the entire 4-iteration
    * trajectory as unrolled CTE rounds, [[logisticOracle]]. */
  /** The q135/q138 feature set: tokens/100, mean word length/10,
    * en-stopword fraction — identical association in [[logisticCtes]]. */
  private def classifierFeatures: (Seq[Column], Column) = {
    val n = size(TextOps.tokens(col("text"))).cast("double")
    val feats = Seq(
      n / lit(100.0),
      (length(col("text")).cast("double") - (n - lit(1.0))) / n / lit(10.0),
      size(filter(TextOps.tokens(col("text")),
        w => w.isin(TextAnalysis.stopwords.head._2: _*))).cast("double") / n)
    (feats, when(col("lang") === "en", 1.0).otherwise(0.0))
  }

  /** The TRAINED q135 classifier weights, memoized per (session, dir) —
    * the fourth suite-level shared input (r20), following the
    * pair-table/components/centroids discipline in [[Tables]]: SEVEN
    * gated queries (q135, q138, q143, q154, q178, q181, q186) train the
    * IDENTICAL 4-iteration model (same features, label, iters, lr —
    * deterministic by the trainer's gradient-grid design), so a suite
    * session runs the four aggregate passes once instead of seven
    * times. Driver-resident 4-double array (the flat trainer's
    * contract); Bench times the build as its own `shared_classifier_
    * weights` entry and times the consumers against the warm memo;
    * [[Tables.clearPairCache]] drops it for cold reps. */
  def sharedClassifierWeights(t: Tables): Array[Double] =
    Tables.memo(t.spark, t.dir, "clf_w4") { () =>
      val (feats, y) = classifierFeatures
      TextAnalysis.logisticTrain(t.documents, feats, y, iters = 4, lr = 0.5)
    }

  /** The 8-merge BPE training, memoized per (session, dir) — a shared
    * suite-level input (r21, VERDICT r20 item 3): q126 (the training
    * gate) and q127 (merge-order inference) run the IDENTICAL
    * `learnMergesBatched(documents, text, 8)` — deterministic by the
    * trainer's total argmax order (count DESC, pair ASC) — so a suite
    * session runs the batched rounds once instead of twice. Same
    * protocol as [[sharedClassifierWeights]]: driver-resident merge
    * list, Bench times the build as its own `shared_bpe_merges` entry
    * and both consumers warm; [[Tables.clearPairCache]] drops it for
    * cold reps. */
  def sharedBpeMerges8(t: Tables): Seq[graft.operators.BpeTrain.Merge] =
    Tables.memo(t.spark, t.dir, "bpe_merges8") { () =>
      graft.operators.BpeTrain.learnMergesBatched(t.documents, col("text"), 8)
    }

  def q135(t: Tables): DataFrame = {
    val (feats, y) = classifierFeatures
    val w = sharedClassifierWeights(t)
    TextAnalysis.logisticScore(
        t.documents.filter(col("doc_id") % 20 === 3), feats, w)
      .select(col("doc_id"), y.cast("long").as("y"),
        lit(w(0)).as("w0"), lit(w(1)).as("w1"),
        lit(w(2)).as("w2"), lit(w(3)).as("w3"),
        Rounding.portable(col("z"), 6).as("z6"),
        Rounding.portable(col("p"), 6).as("p6"),
        (col("p") > 0.5).cast("long").as("pred"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q138: PRECISION/RECALL SWEEP ([[TextAnalysis.prCurve]]) over the
    * q135 model's scores on the WHOLE corpus — the operating-point curve
    * that turns a trained filter into a keep threshold. One conditional-
    * sum aggregate pass (never corpus×thresholds), integer confusion
    * counts on the 6-decimal score grid, ratios as IEEE division of
    * exact integers. The oracle replays the full training chain and the
    * per-threshold counts as generated SQL. */
  def q138(t: Tables): DataFrame = {
    val (feats, y) = classifierFeatures
    val w = sharedClassifierWeights(t)
    val scored = TextAnalysis.logisticScore(t.documents, feats, w)
      .select(y.as("y"), Rounding.portable(col("p"), 6).as("p6"))
    TextAnalysis.prCurve(scored, col("y") === 1.0, col("p6"), prThresholds)
      .transform(sortedSmall(_, col("thr")))
  }

  /** q137: CCNet HEAD/MIDDLE/TAIL buckets ([[Cleaning.ccnetBuckets]]) —
    * the published pipeline's actual downstream of the q117 LM scores:
    * per-LANGUAGE tercile thresholds (a |langs|-row percentile aggregate
    * broadcast into a map-only CASE — never a per-group window), docs
    * labeled head/middle/tail, keep = not tail. Scores enter the
    * bucketing GRID-SNAPPED at 6 decimals so the threshold comparisons
    * are engine-deterministic (the operator's cross-engine note);
    * doc_id % 10 == 6 gated with the thresholds trained on ALL scored
    * docs. */
  def q137(t: Tables): DataFrame = {
    // shared memoized LM scores (see q117)
    val scored = t.bigramCeScores
      .join(t.documents.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .withColumn("ce6", Rounding.portable(col("ce"), 6))
    Cleaning.ccnetBuckets(scored, col("lang"), col("ce6"))
      .filter(col("id") % 10 === 6)
      .select(col("id").as("doc_id"), col("lang"), col("ce6"),
        col("bucket"), col("keep"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q136: KEY-SKEW AUDIT ([[Layout.skewAudit]]) — the pre-shuffle
    * diagnostic for choosing between a plain exchange, [[Layout.saltedJoin]]
    * and the hot-key escape hatches (q128/q133): top keys by count with
    * share, ratio-to-mean and the global max ratio. Audited key: the
    * documents language column, whose head ('en') runs ~2.2× the mean —
    * real skew on the real fixture. All ratio arithmetic is pure IEEE
    * division of exact integers, identical in both engines unrounded. */
  def q136(t: Tables): DataFrame =
    Layout.skewAudit(t.documents, col("lang"), topK = 5)
      .transform(sortedSmall(_, col("rank")))

  /** q120: the COMPLETE Gopher battery ([[Cleaning.gopherRulesFull]]) —
    * q115's four rules plus duplicate-line / duplicate-paragraph
    * fractions and the top-3/4-gram coverage ceilings; doc_id % 10 == 8
    * gated. The fixture corpus is single-line, so the query first gives
    * it deterministic structure — lines of 2 words, paragraphs of 4
    * lines — IDENTICALLY derived in the oracle; the 2-word line width is
    * chosen because it is the widest at which the fixture's 31-word
    * closed vocabulary produces duplicate lines at all (both outcomes on
    * the dup-line rule; paragraph duplicates never occur on this
    * fixture, so that metric is oracle-verified at exactly 0). */
  def q120(t: Tables): DataFrame = {
    val words = split(col("text"), " ")
    val lineArr = transform(
      sequence(lit(0L), greatest(ceil(size(words) / lit(2.0)) - 1, lit(0L))),
      i => array_join(slice(words, (i * 2 + 1).cast("int"), lit(2)), " "))
    val paraArr = transform(
      sequence(lit(0L), greatest(ceil(size(lineArr) / lit(4.0)) - 1, lit(0L))),
      j => array_join(slice(lineArr, (j * 4 + 1).cast("int"), lit(4)), "\n"))
    val structured = t.documents.filter(col("doc_id") % 10 === 8)
      .select(col("doc_id"), array_join(paraArr, "\n\n").as("text"))
    // gate encoding r19: every count-rational in micro-unit BIGINTs —
    // q115's same-dag sibling, converted with it (the flagged class is
    // the DAG, not the one value the sweep's fixture happened to land)
    Cleaning.gopherRulesFull(structured, col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_words"),
        round(col("mean_word_len") * lit(1e6)).cast("long").as("mwl6"),
        col("stop_hits"),
        round(col("top2_frac") * lit(1e6)).cast("long").as("top2_frac6"),
        round(col("top3_frac") * lit(1e6)).cast("long").as("top3_frac6"),
        round(col("top4_frac") * lit(1e6)).cast("long").as("top4_frac6"),
        col("n_lines"),
        round(col("dup_line_frac") * lit(1e6)).cast("long").as("dup_line_frac6"),
        col("n_paras"),
        round(col("dup_para_frac") * lit(1e6)).cast("long").as("dup_para_frac6"),
        col("keep"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q121: AUDITED PII scrub ([[Cleaning.piiScrub]]) — per-category
    * detection counts plus the masked text, the report q62's blind
    * redaction cannot produce. The fixture text is PII-free, so each
    * category is injected deterministically on its own modulus (3/4/5 —
    * docs carry zero to three categories, all combinations exercised),
    * identically derived in the oracle; the md5 gates every masked byte
    * and the counts gate the detector itself. Map-only: one scan, zero
    * exchanges (the sort is the output contract). */
  def q121(t: Tables): DataFrame = {
    val injected = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@corp.example.org now"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 1,
        concat(lit(" from host 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string"),
          lit(" logged"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 2,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
    Cleaning.piiScrub(
        t.documents.filter(col("doc_id") % 10 === 9)
          .select(col("doc_id"), injected.as("text")),
        col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_emails"), col("n_ips"),
        col("n_phones"), md5(col("text_redacted")).as("h"),
        length(col("text_redacted")).cast("long").as("len"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q130: FULL-category PII scrub ([[Cleaning.piiScrubFull]]) — q121's
    * audited shape extended with the three categories a code/crawl
    * corpus leaks most: SSNs, IBANs (format-only, see
    * [[Cleaning.PiiIban]]), and credit cards gated by the native Luhn
    * expression ([[graft.plans.LuhnMaskCards]]) — per-match checksum
    * validation that no regexp can express, which is the whole point of
    * the gate: the fixture injects BOTH a Luhn-valid card and its
    * check-digit-broken twin (four container families: spaced Visa/MC,
    * bare Amex-15, dashed Discover), and only the valid ones may mask.
    * The oracle replays the same progressive masking; it cannot run
    * Luhn, but it doesn't need to — validity is decided by the fixture's
    * doc_id class, so the oracle masks the known-valid literals and
    * leaves the broken twins, and any scrub that masks unvalidated digit
    * runs (or misses a separated card) hash-mismatches. */
  def q130(t: Tables): DataFrame = {
    val id = col("doc_id")
    def pad(c: Column, n: Int) = lpad(c.cast("string"), n, "0")
    val validCards = array(lit("4539 1488 0343 6467"), lit("5500 0000 0000 0004"),
      lit("340000000000009"), lit("6011-0009-9013-9424"))
    val brokenCards = array(lit("4539 1488 0343 6468"), lit("5500 0000 0000 0005"),
      lit("340000000000000"), lit("6011-0009-9013-9425"))
    val cardIdx = (id % 4).cast("int") + 1
    val injected = concat(col("text"),
      when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@corp.example.org now"))).otherwise(lit("")),
      when(id % 6 === 0, concat(lit(" card "), element_at(validCards, cardIdx),
        lit(" on file"))).otherwise(lit("")),
      when(id % 6 === 3, concat(lit(" card "), element_at(brokenCards, cardIdx),
        lit(" on file"))).otherwise(lit("")),
      when(id % 4 === 1, concat(lit(" from host 10."), (id % 256).cast("string"),
        lit(".0."), (id % 100).cast("string"), lit(" logged"))).otherwise(lit("")),
      when(id % 7 === 4, concat(lit(" ssn 123-45-"), pad(id % 10000, 4)))
        .otherwise(lit("")),
      when(id % 8 === 5, concat(lit(" pay DE89"), pad(id % 1000000, 18),
        lit(" ref"))).otherwise(lit("")),
      when(id % 5 === 2, concat(lit(" call 555-"), pad(id % 1000, 3), lit("-"),
        pad(id % 10000, 4))).otherwise(lit("")))
    Cleaning.piiScrubFull(
        t.documents.filter(id % 10 === 4).select(id, injected.as("text")),
        col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_emails"), col("n_cards"),
        col("n_ibans"), col("n_ips"), col("n_ssns"), col("n_phones"),
        md5(col("text_redacted")).as("h"),
        length(col("text_redacted")).cast("long").as("len"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q122: CORPUS-LEVEL duplicate-line removal
    * ([[Dedup.dedupLinesAcrossCorpus]]) — the CCNet/RefinedWeb stage that
    * strips boilerplate lines repeating ACROSS documents, keeping exactly
    * the first `(doc_id, pos)` occurrence corpus-wide. The single-line
    * fixture gets q120's derived structure at 3-word lines (the closed
    * ~31-word vocabulary then repeats lines heavily across the corpus —
    * at sf0.01 roughly two thirds of all line instances are removed, and
    * some docs lose every line, exercising the empty-reconstruction
    * path). Runs over the WHOLE corpus — dedup against a gated slice
    * would be a different operator — with one row out per doc; the md5
    * pins the surviving lines and their order. */
  def q122(t: Tables): DataFrame = {
    val words = split(col("text"), " ")
    val lineArr = transform(
      sequence(lit(0L), greatest(ceil(size(words) / lit(3.0)) - 1, lit(0L))),
      i => array_join(slice(words, (i * 3 + 1).cast("int"), lit(3)), " "))
    val structured = t.documents
      .select(col("doc_id"), array_join(lineArr, "\n").as("text"))
    Dedup.dedupLinesAcrossCorpus(structured, col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("text_clean")).as("h"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q128: q122's corpus-level line dedup through the `hotKeySafe`
    * ASSOCIATIVE form — `min(struct(id, pos))` partial-combined per line
    * plus a skew-free winning-coordinates join instead of the keep-first
    * window (the hot-boilerplate escape hatch; see
    * [[Dedup.dedupLinesAcrossCorpus]]'s skew note and the
    * `linededup_hotkey` probe, recorded in ROUND_NOTES.md, round 12,
    * source `Soak.scala` at 99b069a). Answer-identity with the window form is the
    * operator's contract, so the gate runs the SAME oracle as q122 —
    * the driver independently proves both plans meet at the same
    * byte-identical reconstruction. */
  def q128(t: Tables): DataFrame = {
    val words = split(col("text"), " ")
    val lineArr = transform(
      sequence(lit(0L), greatest(ceil(size(words) / lit(3.0)) - 1, lit(0L))),
      i => array_join(slice(words, (i * 3 + 1).cast("int"), lit(3)), " "))
    val structured = t.documents
      .select(col("doc_id"), array_join(lineArr, "\n").as("text"))
    Dedup.dedupLinesAcrossCorpus(structured, col("doc_id"), col("text"),
        hotKeySafe = true)
      .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("text_clean")).as("h"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q123: Unicode normalization via the native `unicode_normalize`
    * expression ([[graft.plans.UnicodeNormalize]]) — the fixture is pure
    * ASCII (already-NFC fast path), so canonical and compatibility
    * variance is injected deterministically: every `a` becomes
    * `a`+U+0301 (combining acute — NFC composes it to `á`) and every
    * `fi` becomes the U+FB01 ligature (NFC preserves it; NFKC expands it
    * back). The oracle uses DuckDB's `nfc_normalize` directly for NFC
    * and the identity `NFKC(x) = NFC(expand-ligatures(x))` — exact here
    * because `f`/`i` compose with nothing — for NFKC. Code-point lengths
    * and md5s pin both outputs; map-only, fused into the scan's codegen
    * span. */
  def q123(t: Tables): DataFrame = {
    val decomposed = regexp_replace(
      regexp_replace(col("text"), "a", "a\u0301"), "fi", "\ufb01")
    t.documents.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), decomposed.as("__u_raw"))
      .select(col("doc_id"),
        TextOps.unicodeNormalize(col("__u_raw"), "NFC").as("__u_nfc"),
        TextOps.unicodeNormalize(col("__u_raw"), "NFKC").as("__u_nfkc"),
        length(col("__u_raw")).cast("long").as("len_decomp"))
      .select(col("doc_id"), col("len_decomp"),
        length(col("__u_nfc")).cast("long").as("len_nfc"),
        length(col("__u_nfkc")).cast("long").as("len_nfkc"),
        md5(col("__u_nfc")).as("h_nfc"),
        md5(col("__u_nfkc")).as("h_nfkc"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q124: per-source heavy-hitter tokens via the Misra–Gries sketch
    * ([[graft.operators.ApproxOps.heavyHitters]]) — the k-bounded,
    * mergeable path to q26's exact top-n, gated EXACTLY by sizing
    * `cap` (256) far above the fixture's 31-token per-source
    * vocabulary so no trim ever fires and the sketch degenerates to
    * exact counts (the same exact-when-small discipline as q111's KMV
    * gate); the guarantee regime at binding caps is spec-pinned
    * instead (HeavyHittersSpec). Top-5 per source with the (est DESC,
    * token) tie-break both engines share. */
  def q124(t: Tables): DataFrame = {
    val toks = t.documents
      .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val hh = graft.operators.ApproxOps.heavyHitters(
      toks, col("w"), cap = 256, col("source"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("est").desc, col("token"))
    hh.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("source"), col("token"), col("est"), col("rnk"))
      .transform(sortedSmall(_, col("source"), col("rnk")))
  }

  /** q139 probe list — vocabulary words plus one guaranteed-absent
    * token: a CMS reports absent ONLY when some row's cell is untouched,
    * so the zero row exercises the one-sided-error floor. */
  val cmsProbes: Seq[String] =
    Seq("table", "row", "scan", "key", "value", "the", "spark", "absent-token")

  /** q139: COUNT-MIN point-frequency estimates
    * ([[graft.operators.ApproxOps.countMinSketch]]/`cmsPointEstimates`)
    * — the point-query sibling of q124's heavy hitters, gated EXACTLY by
    * sizing `width` (2048) far above the corpus vocabulary so no probe
    * collides in every row and the min-of-cells degenerates to the true
    * count (the q124/q111 exact-when-small discipline; the ε·N error
    * regime at binding widths is spec-pinned in CountMinSpec instead).
    * Per-source sketches — the state is a fixed 4×2048 counter array per
    * source regardless of corpus size — probed for a fixed literal list
    * including one absent token (est 0). */
  def q139(t: Tables): DataFrame = {
    val toks = t.documents
      .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val sk = graft.operators.ApproxOps.countMinSketch(
      toks, col("w"), depth = 4, width = 2048, col("source"))
    graft.operators.ApproxOps.cmsPointEstimates(sk, cmsProbes, depth = 4, width = 2048)
      .select(col("source"), col("token"), col("est"))
      .transform(sortedSmall(_, col("source"), col("token")))
  }

  /** q140: HASHED TF-IDF VECTORS ([[TextAnalysis.hashedTfidfVectors]])
    * — feature-hashed document embeddings derived from raw text, no
    * vocabulary table, no external model; doc_id % 10 == 2 gated on
    * vector-level invariants that pin the content without hashing raw
    * doubles: nonzero-bucket count (exact — unsigned weights cannot
    * cancel, so a bucket is 0.0 iff every token in it has idf 0), L2
    * norm and component sum at 6 decimals (the fold runs in bucket
    * order in-row; the oracle aggregates the same bucket weights). */
  def q140(t: Tables): DataFrame =
    TextAnalysis.hashedTfidfVectors(t.documents, col("doc_id"), col("text"),
        dims = 64)
      .filter(col("id") % 10 === 2)
      .select(col("id").as("doc_id"),
        size(filter(col("vec"), v => v =!= 0.0)).cast("long").as("nnz"),
        Rounding.portable(
          sqrt(aggregate(col("vec"), lit(0.0), (a, v) => a + v * v)), 6).as("norm6"),
        Rounding.portable(
          aggregate(col("vec"), lit(0.0), (a, v) => a + v), 6).as("vsum6"))
      .transform(sortedSmall(_, col("doc_id")))

  /** q141: DISTRIBUTED-WEIGHT classifier training
    * ([[TextAnalysis.logisticTrainHashed]]) — q135's flat trainer scaled
    * to the regime where the MODEL is a relation: 32 hashed bag-of-words
    * buckets + bias, the weight vector living as a (bucket, weight)
    * table that never reaches the driver; 3 GD iterations, each two
    * join+agg passes with the gradient grid-rounded IN-PLAN. Gated on
    * the scored doc_id % 20 == 7 slice (z pins every weight through the
    * bucket sums); the oracle unrolls the full iteration chain with
    * weight TABLES as MATERIALIZED CTEs — [[hashedLogisticOracle]]. */
  def q141(t: Tables): DataFrame = {
    // shared memoized feature table (Tables.hashedFeaturePairs32, r21) —
    // q141 + q147 featurize the identical corpus at dims = 32; the
    // scoring slice is an id-filter of the same table (per-id rows, so
    // the filtered table IS the slice's featurization)
    val fp = t.hashedFeaturePairs32
    val y = when(col("lang") === "en", 1.0).otherwise(0.0)
    val w = TextAnalysis.logisticTrainHashedOn(fp, t.documents,
      col("doc_id"), y, iters = 3, lr = 0.5)
    TextAnalysis.logisticScoreOnPairs(
        fp.filter(col("__lh_id") % 20 === 7), w)
      .join(t.documents.select(col("doc_id").as("id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y")), Seq("id"))
      .select(col("id").as("doc_id"), col("y"),
        Rounding.portable(col("z"), 6).as("z6"),
        Rounding.portable(col("p"), 6).as("p6"),
        (col("p") > 0.5).cast("long").as("pred"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q147: TRAINED LANGUAGE-ID ([[TextAnalysis.langIdTrained]]) — q36's
    * stopword heuristic upgraded to the model the production pipelines
    * actually run (fastText-style: CCNet, RedPajama): one-vs-rest
    * hashed bag-of-words logistic classifiers, one per language,
    * trained distributed and composed into score→argmax→confusion. The
    * oracle unrolls all five training chains with weight tables as
    * materialized CTEs ([[langidOracle]] — q141's unroll, ×5) and
    * replays the grid-snapped argmax. Output is the (lang, pred, n)
    * confusion matrix, directly comparable with heuristic q36's.
    *
    * Fixture honesty: the driver corpus's `lang` column is label NOISE
    * (the text distribution is lang-independent by construction —
    * verified: identical token soup across langs), so NO classifier can
    * beat the majority prior here and the gated matrix collapses to
    * pred = 'en' for every doc. The gate therefore proves ENGINE PARITY
    * through 10 unrolled GD iterations + argmax; the DISCRIMINATION
    * claim is pinned in LangIdSpec on a disjoint-vocab fixture the task
    * is learnable on (acc = 1.0) — the two-leg discipline. */
  def q147(t: Tables): DataFrame =
    // shared memoized feature table at dims = 32 (see q141)
    TextAnalysis.langIdTrainedOn(t.hashedFeaturePairs32, t.documents,
        col("doc_id"), col("lang"), langs = Seq("de", "en", "es", "fr", "zh"),
        iters = 2, lr = 0.5)
      .select(col("id").as("doc_id"), col("pred"))
      .join(t.documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .transform(sortedSmall(_, col("lang"), col("pred")))

  /** q143: CALIBRATION CURVE ([[TextAnalysis.calibrationCurve]]) — the
    * reliability audit of the q135 model at 100 probability bins: per
    * occupied bin, count, mean predicted p and observed positive
    * fraction. Binning floors the 6-decimal grid score — identical IEEE
    * ops on identical doubles, so bin membership cannot disagree even at
    * bin edges. One |bins|-row aggregate pass. */
  def q143(t: Tables): DataFrame = {
    val (feats, y) = classifierFeatures
    val w = sharedClassifierWeights(t)
    val scored = TextAnalysis.logisticScore(t.documents, feats, w)
      .select(y.as("y"), Rounding.portable(col("p"), 6).as("p6"))
    TextAnalysis.calibrationCurve(scored, col("y") === 1.0, col("p6"), bins = 100)
      .select(col("bin"), col("n"),
        Rounding.portable(col("mean_p"), 6).as("mean_p6"), col("frac_pos"))
      .transform(sortedSmall(_, col("bin")))
  }

  /** q154: EXACT ROC-AUC ([[TextAnalysis.rocAuc]]) — the Mann–Whitney
    * rank statistic with tie correction over the q135 model's scores on
    * the WHOLE corpus, closing the evaluation family: train (q135) →
    * threshold sweep (q138) → calibration (q143) → threshold-free
    * ranking quality (this). One corpus aggregate by distinct 6-decimal
    * score + a window over the score vocabulary only; the pairwise count
    * stays in exact BIGINT arithmetic to the last op (`num2`), so the
    * single closing division is the only float — engine-identical
    * unrounded. Oracle: the unrolled training chain scores the corpus,
    * then the identical integer sweep as SQL. */
  def q154(t: Tables): DataFrame = {
    val (feats, y) = classifierFeatures
    val w = sharedClassifierWeights(t)
    val scored = TextAnalysis.logisticScore(t.documents, feats, w)
      .select(y.as("y"), Rounding.portable(col("p"), 6).as("p6"))
    TextAnalysis.rocAuc(scored, col("y") === 1.0, col("p6"))
  }

  /** q125: URL canonicalization census ([[Cleaning.canonicalizeUrl]]) —
    * FineWeb-style URL-keyed dedup is only as good as its
    * canonicalization, so the gate derives four surface families per
    * resource (canonical; case+www+`:443`+trailing-slash; junk-only
    * query; kept-param+junk+fragment) from doc_id arithmetic and pins
    * the collapse: the first three families land on one canonical form,
    * the kept-param family stays distinct (param preservation is part of
    * the contract). Hash covers the canonical strings plus both the
    * surface-form and doc counts per resource. */
  def q125(t: Tables): DataFrame = {
    val p = (col("doc_id") % 50).cast("string")
    val n = ((col("doc_id") % 50) % 25).cast("string")
    val v = col("doc_id") % 4
    val base = concat(lit("host"), n, lit(".example.org/p/"), p)
    val raw = when(v === 0, concat(lit("https://"), base))
      .when(v === 1, concat(lit("HTTPS://WWW.Host"), n,
        lit(".Example.ORG:443/p/"), p, lit("/")))
      .when(v === 2, concat(lit("https://"), base,
        lit("?utm_source=feed&utm_campaign=x"), col("doc_id").cast("string")))
      .otherwise(concat(lit("https://"), base,
        lit("?ref=kept&utm_medium=mail#frag"), col("doc_id").cast("string")))
    t.documents.select(raw.as("url"))
      .select(col("url"), Cleaning.canonicalizeUrl(col("url")).as("canon"))
      .groupBy("canon")
      .agg(countDistinct(col("url")).as("n_forms"),
        count(lit(1)).as("n_docs"))
      .transform(sortedSmall(_, col("canon")))
  }

  /** q126: distributed BPE vocabulary TRAINING
    * ([[graft.operators.BpeTrain.learnMerges]]) — the learning half of
    * the subword stack (q112/q119 only APPLY vocabs): 8 merges learned
    * from the corpus word-frequency table, each iteration one
    * vocabulary-sized pair-count aggregation plus a 1-row argmax
    * collect. The oracle re-derives the full merge SEQUENCE — not just
    * the first step — by unrolling the iterations ([[bpeTrainOracle]]):
    * each round recomputes pair counts from the current segmentation,
    * takes the same (count DESC, pair ASC) argmax, and applies the
    * greedy left-to-right merge via the island-parity formulation
    * (windowed gaps-and-islands; odd ranks within a run of adjacent
    * candidates merge — exactly the fold's ⌊run/2⌋ pairing). An
    * off-by-one in any round's counts, tie-break or application order
    * derails every later round, so the hash pins the whole algorithm. */
  def q126(t: Tables): DataFrame = {
    // the BATCHED trainer is the production path (provably identical
    // sequence, ~batch× fewer jobs — see learnMergesBatched's acceptance
    // invariants); running the gate through it means the oracle pins the
    // scale path, not just the reference per-merge loop. Shared memo
    // (sharedBpeMerges8, r21): q127 trains the identical sequence.
    val merges = sharedBpeMerges8(t)
    import t.spark.implicits._
    merges.map(m => (m.rank.toLong, m.piece, m.pairCount))
      .toDF("rank", "piece", "pair_count")
      .transform(sortedSmall(_, col("rank")))
  }

  /** q127: merge-order BPE INFERENCE ([[graft.plans.BpeApplyMerges]]) —
    * the production tokenizer algorithm completing the subword triad
    * (q119 greedy longest-match application, q126 training, this:
    * rank-order replay): train 8 merges, register them as a merge-rank
    * vocab, segment the doc_id%10==5 slice. The oracle reuses the
    * trainer chain's FINAL segmentation table (`seg8`) and maps every
    * word of the slice through it — the engines meet at the
    * segmentation itself, which is only possible because rank-order
    * inference provably reproduces training segmentations. */
  def q127(t: Tables): DataFrame = {
    val merges = sharedBpeMerges8(t) // shared memo — see q126
    graft.plans.BpeMergeRanks.register("q127", merges.map(m => (m.a, m.b)))
    val toks = filter(split(lower(col("text")), " "), w => w =!= "")
    t.documents.filter(col("doc_id") % 10 === 5)
      .select(col("doc_id"), size(toks).cast("long").as("n_words"),
        graft.plans.GraftFunctions.bpeApplyMerges(col("text"), "q127").as("__p"))
      .select(col("doc_id"), col("n_words"),
        size(col("__p")).cast("long").as("n_pieces"),
        md5(array_join(col("__p"), " ")).as("h"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  def q114(t: Tables): DataFrame =
    graft.operators.Sampling.temperatureMixture(
        t.documents, col("source"),
        size(split(col("text"), " ")).cast("long"),
        alpha = 0.7, budgetTokens = 1000000L)
      .select(col("stratum"), col("n_tokens"),
        Rounding.portable(col("p"), 6).as("p"),
        Rounding.portable(col("w"), 6).as("w"),
        Rounding.portable(col("target_tokens"), 3).as("target_tokens"),
        Rounding.portable(col("epochs"), 6).as("epochs"))
      .transform(sortedSmall(_, col("stratum")))

  /** q110: exact-substring REMOVAL ([[Dedup.removeSubstringRuns]]) — the
    * ACT step completing q86's report, the same way q106 completes q57:
    * the Lee et al. pipeline cuts each flagged ≥ 8-token verbatim span
    * out of the training copy. Same train/eval split as q86; one row per
    * affected train doc with its original token count, tokens removed
    * (overlaps unioned) and the surviving text re-joined. The hash pins
    * exact cut boundaries — an off-by-one at either end of any span
    * changes `text_clean`. */
  def q110(t: Tables): DataFrame = {
    val evalDocs = t.documents.filter(col("doc_id") % 7 === 0)
    val trainDocs = t.documents.filter(col("doc_id") % 7 =!= 0)
    val runs = Dedup.exactSubstringRuns(
      trainDocs, evalDocs, col("doc_id"), col("text"), minRun = 8)
    Dedup.removeSubstringRuns(trainDocs, col("doc_id"), col("text"), runs)
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q108: winnowing fingerprints
    * ([[graft.operators.Dedup.winnowFingerprints]]) — the MOSS sketch
    * (k=3 shingles, w=4 windows), gated per doc (doc_id % 20 == 1) on
    * fingerprint count and the set's lexicographic endpoints (a single
    * reselected minimum changes the row). */
  def q108(t: Tables): DataFrame =
    Dedup.winnowFingerprints(t.documents, col("doc_id"), col("text"), k = 3, w = 4)
      .filter(col("doc_id") % 20 === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"), min("fp").as("min_fp"), max("fp").as("max_fp"))
      .transform(sortedSmall(_, col("doc_id")))

  /** q107: containment near-dup
    * ([[graft.operators.Dedup.ngramContainment]]) — subset-duplication
    * detection at max-directional containment ≥ 0.8 over 3-shingles;
    * reports both directions so the gate pins the asymmetry (which side
    * is the contained one). Gates the df-capped form (stop shingles with
    * df > 50 anti-joined out of the candidate index, exact split-count
    * ratios — the q145 stop-shingle discipline): the uncapped join is
    * latently quadratic on a Zipf-head shingle. No fixture shingle
    * exceeds the cap, so the gated rows are the uncapped form's
    * (DedupSpec pins bit-equality). */
  def q107(t: Tables): DataFrame =
    Dedup.ngramContainment(
        Dedup.shingleSet(t.documents, col("doc_id"), col("text"), 3), 0.8, Some(50L))
      .select(col("da"), col("db"), col("i"), col("na"), col("nb"),
        Rounding.portable(col("cab"), 6).as("cab"),
        Rounding.portable(col("cba"), 6).as("cba"))
      .transform(sortedSmall(_, col("da"), col("db")))

  /** q106: keep-one dedup, end to end
    * ([[graft.operators.Dedup.dropNearDups]]) — the policy a corpus
    * build actually applies: resolve the shared near-dup pair table
    * into clusters, anti-join every non-representative out, and census
    * the SURVIVING corpus per source (docs + tokens — one doc kept or
    * dropped differently changes both aggregates, so the hash pins the
    * exact survivor membership). Promotes the spec-only keep-one
    * operator to oracle-gated. */
  def q106(t: Tables): DataFrame =
    Dedup.dropNearDupsByComponents(t.documents, col("doc_id"),
        t.documentNearDupComponents)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .transform(sortedSmall(_, col("source")))

  /** q105: deterministic seeded shuffle
    * ([[graft.operators.Layout.seededShuffle]]) — the reproducible
    * epoch-order primitive: 8 shards under seed "epoch0", gated on each
    * shard's first 3 positions (any row changing shard, order or seed
    * sensitivity changes the output). */
  def q105(t: Tables): DataFrame =
    Layout.seededShuffle(t.documents, col("doc_id"), "epoch0", nShards = 8)
      .filter(col("pos") <= 3)
      .select(col("shard"), col("pos"), col("doc_id"))
      .transform(sortedSmall(_, col("shard"), col("pos")))

  /** q104: embedding hygiene audit — the sanity report an ANN build
    * runs before trusting a vendor's vectors: corpus size, number of
    * DISTINCT dimensionalities (anything but 1 is a broken batch),
    * min/max/mean L2 norm (0 = dead vector, wild spread = unnormalized
    * mix) and the zero-vector count. Norms via the native `l2_distance`
    * against a zero vector — the same sequential accumulation DuckDB's
    * `list_distance` does, so the doubles agree bitwise (q89's
    * precedent). One map pass + one 1-row aggregate. */
  def q104(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    e.select(size(col("e")).as("dim"),
        graft.plans.GraftFunctions.l2Distance(col("e"),
          array_repeat(lit(0.0), size(col("e")))).as("norm"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("dim")).as("n_dims"),
        Rounding.portable(min("norm"), 6).as("min_norm"),
        Rounding.portable(max("norm"), 6).as("max_norm"),
        Rounding.portable(avg("norm"), 6).as("avg_norm"),
        sum(when(col("norm") === 0.0, 1L).otherwise(0L)).as("n_zero"))
  }

  /** q103: n-gram novelty saturation curve — treat doc_id % 10 as ten
    * ingest "days" and ask how many DISTINCT trigrams each day
    * contributes for the first time (plus how often those trigrams
    * recur corpus-wide). The flattening of `cum_new` is the standard
    * "is more crawl still buying diversity?" signal a corpus build
    * watches before paying for the next batch. Shape: one shingle
    * aggregate keyed on the n-gram (min first-day + total occurrences
    * in the same pass), one 10-row re-aggregate, cumulative over the
    * bounded day axis with an explicit ROWS frame. */
  def q103(t: Tables): DataFrame = {
    val w = Window.orderBy(col("first_slice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.documents
      .select((col("doc_id") % 10).as("slice"),
        explode(TextOps.shinglesNative(TextOps.tokens(col("text")), 3)).as("w"))
      .groupBy("w")
      .agg(min("slice").as("first_slice"), count(lit(1)).as("occ"))
      .groupBy("first_slice")
      .agg(count(lit(1)).as("new_ngrams"), sum("occ").as("occurrences"))
      .withColumn("cum_new", sum(col("new_ngrams")).over(w))
      .transform(sortedSmall(_, col("first_slice")))
  }

  /** q102: cross-source duplication matrix — near-dup ATTRIBUTION: fold
    * the corpus near-dup pairs ([[Tables.documentNearDupPairs]], the
    * q57/q72/q85 shared memo) onto each side's `source` and count per
    * unordered source pair — "which sources copy from which" is the
    * report that turns a pair list into a source-level dedup policy
    * (drop the mirror, keep the origin). Two broadcast dimension joins
    * + one report-sized aggregate on top of the already-persisted pair
    * table. */
  def q102(t: Tables): DataFrame = {
    val p = t.documentNearDupPairs
    val src = t.documents.select(col("doc_id"), col("source"))
    p.join(broadcast(src.select(col("doc_id").as("da"), col("source").as("sa"))), "da")
      .join(broadcast(src.select(col("doc_id").as("db"), col("source").as("sb"))), "db")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("est"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        Rounding.portable(avg("est"), 6).as("avg_est"))
      .transform(sortedSmall(_, col("src_a"), col("src_b")))
  }

  /** q101: distribution drift between corpus halves
    * ([[graft.operators.TextAnalysis.jsDivergence]]) — Jensen-Shannon
    * divergence between the even- and odd-doc_id slices' unigram
    * distributions (the between-crawls drift check). */
  def q101(t: Tables): DataFrame =
    TextAnalysis.jsDivergence(
        t.documents.filter(col("doc_id") % 2 === 0),
        t.documents.filter(col("doc_id") % 2 === 1),
        col("text"))
      .select(col("n_a"), col("n_b"), col("vocab"),
        Rounding.portable(col("js"), 6).as("js"))

  /** q100: corpus mixture report — the "data card" every training run
    * starts from: per (source, predicted language) doc and token counts,
    * each cell's share of the corpus token budget, and the cumulative
    * share in descending-weight order ("the top N slices cover X%").
    * One token pass (q36's langid aggregation with the token count
    * riding along), one report-sized groupBy, the total as a 1-row
    * broadcast, and the cumulative sum as an explicit-ROWS window over
    * the REPORT rows (sources × languages — bounded, so the single
    * partition is fine at any corpus scale). */
  def q100(t: Tables): DataFrame = {
    val tok = t.documents.select(col("doc_id"), col("source"),
      explode(TextOps.tokens(col("text"))).as("w"))
    val scoreAggs = TextAnalysis.langScores(col("w"))
      .map { case (lang, c) => c.as(s"s_$lang") }
    val perDoc = tok.groupBy("doc_id", "source")
      .agg(scoreAggs.head, (scoreAggs.tail :+ count(lit(1)).as("n_tok")): _*)
      .select(col("source"), TextAnalysis.predictLang().as("pred"), col("n_tok"))
    val grp = perDoc.groupBy("source", "pred")
      .agg(count(lit(1)).as("docs"), sum("n_tok").as("tokens"))
    val tot = grp.agg(sum("tokens").cast("double").as("tot"))
    val w = Window.orderBy(col("tokens").desc, col("source"), col("pred"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grp.crossJoin(broadcast(tot))
      .select(col("source"), col("pred"), col("docs"), col("tokens"),
        Rounding.portable(col("tokens") / col("tot"), 6).as("share"),
        Rounding.portable(sum(col("tokens")).over(w) / col("tot"), 6).as("cum_share"))
      .transform(sortedSmall(_, col("tokens").desc, col("source"), col("pred")))
  }

  /** q99: HITS hubs & authorities ([[graft.operators.Graph.hits]]) —
    * q91's synthetic domain link graph scored by 2 L1-normalized HITS
    * iterations; the hash gate pins both directions' mutual
    * reinforcement and the zero rows for in-degree-0 / out-degree-0
    * domains. */
  def q99(t: Tables): DataFrame = {
    val links = t.documents.select(
        concat(lit("site"), (col("doc_id") % 7).cast("string")).as("src"),
        concat(lit("site"), (col("doc_id") % 5).cast("string")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    graft.operators.Graph.hits(links, iters = 2)
      .select(col("node").as("domain"),
        Rounding.portable(col("hub"), 6).as("hub"),
        Rounding.portable(col("auth"), 6).as("auth"))
      .transform(sortedSmall(_, col("domain")))
  }

  /** q98: unigram surprisal scoring
    * ([[graft.operators.TextAnalysis.unigramSurprisal]]) — per-doc mean
    * negative log unigram probability under the corpus's own
    * distribution; doc_id % 10 == 7 restricts the gated output. */
  def q98(t: Tables): DataFrame =
    TextAnalysis.unigramSurprisal(t.documents, col("doc_id"), col("text"))
      .filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("n_tok"),
        Rounding.portable(col("surprisal"), 6).as("surprisal"))
      .transform(sortedSmall(_, col("doc_id")))

  /** q97: quantile quality gate ([[graft.operators.Cleaning.quantileGate]])
    * — keep the top quartile of documents by type-token ratio over
    * normalized tokens. Output restricted to doc_id % 10 == 3 to keep
    * the gate small; membership is the hashed contract. */
  def q97(t: Tables): DataFrame = {
    val scored = t.documents
      .withColumn("toks",
        filter(split(TextOps.normalizeText(col("text")), " "), x => x =!= ""))
      .filter(size(col("toks")) > 0)
      .withColumn("ttr",
        size(array_distinct(col("toks"))) / size(col("toks")).cast("double"))
    Cleaning.quantileGate(scored, col("ttr"), 0.75)
      .filter(col("doc_id") % 10 === 3)
      .select(col("doc_id"), col("source"), Rounding.portable(col("ttr"), 6).as("ttr"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q96: graded contamination fraction
    * ([[graft.operators.Dedup.contaminationFraction]]) — q74's eval
    * split (doc_id % 7) but scoring EVERY train doc with its fraction of
    * eval-shared 5-shingles, clean docs included at 0.0; restricted to
    * doc_id % 10 == 1 to keep the gated output small while still
    * covering contaminated and clean rows. */
  def q96(t: Tables): DataFrame =
    Dedup.contaminationFraction(
        t.documents.filter(col("doc_id") % 7 =!= 0),
        t.documents.filter(col("doc_id") % 7 === 0),
        col("doc_id"), col("text"), n = 5)
      .filter(col("doc_id") % 10 === 1)
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        Rounding.portable(col("frac"), 6).as("frac"))
      .transform(sortedSmall(_, col("doc_id")))

  /** q95: embedding cluster-quality audit
    * ([[graft.operators.Similarity.clusterAudit]]) — q35's init-only
    * centroid discipline (vec_id < 8), per-cluster cohesion/separation
    * and the Davies-Bouldin-style ratio. */
  def q95(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    Similarity.clusterAudit(e, e.filter(col("vec_id") < 8))
      .select(col("cid"), col("n"),
        Rounding.portable(col("mean_d"), 6).as("mean_d"),
        col("nn_cid"),
        Rounding.portable(col("nn_d"), 6).as("nn_d"),
        Rounding.portable(col("db_ratio"), 6).as("db_ratio"))
      .transform(sortedSmall(_, col("cid")))
  }

  /** q83: sliding-window document chunking
    * ([[graft.operators.TextAnalysis.chunkTokens]]) — 50-token windows
    * advancing by 40 (10-token overlap), the LLM context-window prep
    * step. The md5 fingerprint of every re-joined window is in the hash
    * gate, so chunk boundaries, ordering, and the short final chunk are
    * all pinned. */
  def q83(t: Tables): DataFrame =
    TextAnalysis.chunkTokens(
        t.documents, col("doc_id"), col("text"), chunkSize = 50, stride = 40)
      .transform(sortedSmall(_, col("doc_id"), col("chunk_id")))

  /** q84: greedy sequence packing
    * ([[graft.operators.TextAnalysis.packSequences]]) — documents laid
    * end to end per source shard in doc_id order, assigned to the
    * 512-token training sequence where their first token lands; output
    * is the per-sequence fill audit. */
  def q84(t: Tables): DataFrame =
    TextAnalysis.packSequences(
        t.documents, col("source"), col("doc_id"),
        size(split(col("text"), " ")), seqLen = 512L)
      .transform(sortedSmall(_, col("shard"), col("seq_id")))

  /** q58: unpivot (wide → long; the inverse of q47's pivot) over a
    * grouped wide frame — Spark's native `unpivot` (UNPIVOT/MELT). */
  def q58(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        // order-exact integer-grid sums (r18): all three are exact
        // 2-decimal columns, so the long sums are merge-order-immune
        Rounding.portable(Rounding.sumExact(col("l_quantity"), 2), 2).as("qty"),
        Rounding.portable(Rounding.sumExact(col("l_extendedprice"), 2), 2).as("price"),
        Rounding.portable(Rounding.sumExact(col("l_discount"), 2), 2).as("disc"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("disc")),
        "measure", "value")
      .transform(sortedSmall(_, col("l_returnflag"), col("measure")))

  /** q59: forward fill (`last_value IGNORE NULLS`) — carry the latest
    * non-null measurement forward within each user's event sequence.
    * Nulls are synthesized deterministically (every 5th event) since the
    * fixture has none; `was_null` marks the filled rows. */
  def q59(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t.events
      .withColumn("v", when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")))
      .withColumn("ff0", TimeSeries.forwardFill(col("v"), w))
      .filter(col("event_id") % 100 === 0)
      .select(col("event_id"), col("user_id"),
        Rounding.portable(col("ff0"), 2).as("ff"),
        col("v").isNull.cast("int").as("was_null"))
      .transform(sortedSmall(_, col("event_id")))
  }

  /** q60: event-time RANGE frame — trailing 1-hour window per user keyed
    * on the ORDER BY value (seconds), not row position: each row's frame
    * is [t−3600 s, t]. The time-domain sibling of q46's ROWS frame. */
  def q60(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(unix_timestamp(col("ts")))
      .rangeBetween(-3600L, Window.currentRow)
    t.events
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n"),
        Rounding.portable(sum("value").over(w), 2).as("s"))
      .filter(col("event_id") % 100 === 0)
      .transform(sortedSmall(_, col("event_id")))
  }

  /** q157: LINEAR TIME INTERPOLATION ([[TimeSeries.interpolateLinear]])
    * — q59's forward fill upgraded to the two-sided time-weighted blend
    * (pandas `interpolate(method='time')`): gaps synthesized at
    * event_id % 5 == 2, interior gaps lerped between the neighboring
    * observations on the epoch-seconds axis, leading gaps backfilled,
    * trailing gaps carried forward. Ordering is (tsec, event_id) so
    * duplicate timestamps stay deterministic; an equal-timestamp
    * neighbor pair falls back to the previous value (guarded zero
    * denominator). The oracle restates all four IGNORE-NULLS window
    * reads and the identical lerp arithmetic. */
  def q157(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsec"), col("event_id"))
    t.events
      .select(col("event_id"), col("user_id"),
        col("ts").cast("long").as("tsec"),
        when(col("event_id") % 5 === 2, lit(null).cast("double"))
          .otherwise(col("value")).as("v"))
      .withColumn("vi", TimeSeries.interpolateLinear(col("v"), col("tsec"), w))
      .filter(col("event_id") % 100 === 0)
      .select(col("event_id"), col("user_id"),
        col("v").isNull.cast("long").as("was_gap"),
        Rounding.portable(col("vi"), 6).as("vi"))
      .transform(sortedSmall(_, col("event_id")))
  }

  /** q171: CUSUM DRIFT DETECTION ([[TimeSeries.cusum]]) — Page's
    * sequential change-point statistic per user over the events value
    * series: s_t = max(0, s_{t−1} + (x_t − target − slack)), alarm at
    * s > h. The operator hinge: the sequential-looking recursion has
    * the closed form s_t = P_t − min(0, min_{k≤t} P_k), so the whole
    * detector is ONE user-keyed exchange carrying two running-frame
    * windows — and running frames evaluate in frame order on both
    * engines, so s is engine-identical BEFORE rounding. Gate = per-user
    * trajectory summary (event count, max excursion, alarm count,
    * first alarm time); the streaming twin
    * ([[graft.streaming.CusumStream]]) folds the identical recursion on
    * watermark-retired events, parity-pinned in CusumStreamSpec. */
  def q171(t: Tables): DataFrame =
    TimeSeries.cusum(t.events, col("user_id"),
        Seq(col("ts"), col("event_id")), col("value"),
        target = 50.0, slack = 5.0, h = 100.0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        Rounding.portable(max(col("s")), 6).as("max_s6"),
        coalesce(sum(when(col("alarm"), 1L)), lit(0L)).as("n_alarms"),
        min(when(col("alarm"), col("ts"))).as("first_alarm_ts"))
      .transform(sortedSmall(_, col("user_id")))

  /** q172: BINARY (1-bit sign) quantized ANN
    * ([[Similarity.binarySignEncode]] →
    * [[Similarity.binaryHammingTopKReranked]]) — the bottom rung of the
    * compression ladder under q153's SQ8: 1 bit/dim (32× vs float32),
    * Hamming distance = XOR+popcount over two packed 32-bit words, then
    * exact-cosine re-rank of the 4k survivors (the q131/q148 candidate-
    * cut shape). The hash pins every packed word (Horner fold over sign
    * bits), every Hamming count, the k·mult cut with its (ham, vec_id)
    * tie-break, and the exact re-ranked top-3. */
  def q172(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.binaryHammingTopKReranked(e, queries, dim = 64, k = 3, mult = 4)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"), col("ham"),
        Rounding.portable(col("sim"), 6).as("sim"),
        col("rn").cast("long").as("rn"))
  }

  /** q173: CLOSED-FORM LSH PARAMETER SELECTION ([[Dedup.lshTuning]]) —
    * the planning table that bounds the candidate mass of every banded
    * near-dup job in the suite: for each b·r = 24 factorization, the
    * S-curve's false-positive and false-negative areas around t = 0.7
    * (midpoint quadrature, 200 points), the curve midpoint s50, and the
    * chosen argmin. Deterministic quadrature — no sampling — so the
    * oracle re-derives every area; the gate pins the integration, the
    * argmin tie-break, and the arithmetic of the curve itself. */
  def q173(t: Tables): DataFrame =
    Dedup.lshTuning(t.spark, numHashes = 24, threshold = 0.7, gridN = 200)
      .select(col("b").cast("long").as("b"), col("r").cast("long").as("r"),
        Rounding.portable(col("fp_area"), 6).as("fp_area"),
        Rounding.portable(col("fn_area"), 6).as("fn_area"),
        Rounding.portable(col("err"), 6).as("err"),
        Rounding.portable(col("s50"), 6).as("s50"),
        col("chosen"))
      .transform(sortedSmall(_, col("b"), col("r")))

  /** q174: RENDEZVOUS SHARDING STABILITY ([[Layout.rendezvousShard]]) —
    * the resharding census that motivates highest-random-weight over
    * `digest mod N`: assign every doc under 8 and under 9 shards, and
    * report per old shard how many keys moved and where. The HRW
    * theorem the gate makes visible: `n_moved == n_to_new` on every row
    * (a key relocates IFF the NEW shard's score wins, so every mover
    * lands on shard 8) and the moved mass is ~1/9 of each shard — mod-N
    * would have moved ~8/9 of everything. Map-only in-row argmax; the
    * census is one |shards|-group aggregate. */
  def q174(t: Tables): DataFrame =
    t.documents.select(col("doc_id"),
        Layout.rendezvousShard(col("doc_id"), 8, "rdv").as("s8"),
        Layout.rendezvousShard(col("doc_id"), 9, "rdv").as("s9"))
      .groupBy("s8")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("s8") =!= col("s9"), 1L)), lit(0L)).as("n_moved"),
        coalesce(sum(when(col("s8") =!= col("s9") && col("s9") === 8, 1L)), lit(0L))
          .as("n_to_new"))
      .withColumn("moved_frac",
        Rounding.portable(col("n_moved").cast("double") / col("n"), 6))
      .transform(sortedSmall(_, col("s8")))

  /** q175: TWO-SAMPLE KOLMOGOROV–SMIRNOV DRIFT
    * ([[TimeSeries.ksDriftByGroup]]) — each source's length distribution
    * vs the rest of the corpus: the binning-free shape test that
    * complements q101/q163's histogram divergences (which need a vocab)
    * and q171's CUSUM (which watches a sequential mean). Exact sup over
    * the value vocabulary — rational-count CDFs evaluated at every jump
    * point of either side — plus the scaled `D·sqrt(n·m/(n+m))`
    * statistic. The gate pins the CDF grid, the sup, and the scaling for
    * all 20 sources. */
  def q175(t: Tables): DataFrame =
    TimeSeries.ksDriftByGroup(t.documents, col("source"), col("n_chars"))
      .select(col("g").as("source"), col("n"), col("n_rest"),
        Rounding.portable(col("d"), 6).as("d"),
        Rounding.portable(col("ks"), 6).as("ks"))
      .transform(sortedSmall(_, col("source")))

  /** q176: AUDIO DSP FEATURES ([[graft.operators.Multimodal
    * .audioFeatures]]) — the analysis pass after q73's decode
    * validation: RMS energy, zero-crossing rate (strict `s·s' < 0`
    * rule) and peak per clip, over real WAVs decoded by
    * javax.sound.sampled. Integer accumulators cross the codec
    * boundary; the float ratios are derived columnar and rounded here.
    * The oracle re-derives every sample arithmetically from the
    * synthWavBytes closed form (the q73/q40 no-codec-oracle
    * discipline) — a kernel that drops a sample, miscounts a crossing
    * at a zero, or mis-squares one value hash-mismatches. */
  def q176(t: Tables): DataFrame = {
    val blobs = graft.operators.Multimodal.synthAudio(
      t.documents.select(col("doc_id")).filter(col("doc_id") % 10 === 3), "doc_id")
    graft.operators.Multimodal.audioFeatures(blobs, "doc_id", "blob").toDF()
      .select(col("doc_id"), col("n_samples"), col("sumsq"), col("n_cross"), col("peak"),
        Rounding.portable(
          sqrt(col("sumsq").cast("double") / col("n_samples")), 6).as("rms"),
        Rounding.portable(
          col("n_cross").cast("double") / (col("n_samples") - 1), 6).as("zcr"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q177: HYBRID RETRIEVAL VIA RECIPROCAL RANK FUSION
    * ([[TextAnalysis.rrfFuse]]) — the standard lexical+dense combiner:
    * q161's BM25 top-10 (probe terms over documents) fused with the
    * brute-force cosine top-10 over the SAME query ids' embeddings,
    * score `Σ 1/(60+rank)` (Cormack et al. 2009's k=60), fused top-5.
    * Rank-only fusion needs no cross-retriever score normalization,
    * and the two retrievers' id universes need not coincide (at larger
    * SFs documents outnumber embeddings — lexical-only hits simply
    * collect one term). The gate pins both input rankings' tie-breaks
    * transitively plus the fusion arithmetic and its own (rrf, id)
    * tie-break. */
  def q177(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    import spark.implicits._
    val probes = Seq((0L, "scan"), (0L, "merge"), (1L, "vector"),
      (1L, "window"), (1L, "slow"), (2L, "the"), (2L, "data"))
      .toDF("qid", "term")
    val bm = TextAnalysis.bm25TopK(t.documents, col("doc_id"), col("text"), probes, k = 10)
      .select(col("qid"), col("doc_id").as("id"), col("rn"))
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val e = t.embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val wc = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    val cos = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id"),
        graft.plans.GraftFunctions.cosineSimilarity(col("qe"), col("e")).as("sim"))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= 10)
      .select("qid", "id", "rn")
    TextAnalysis.rrfFuse(Seq(bm, cos), kRrf = 60, topK = 5)
      .select(col("qid"), col("id"), Rounding.portable(col("rrf"), 6).as("rrf"),
        col("n_lists"), col("rn"))
      .transform(sortedSmall(_, col("qid"), col("rn")))
  }

  /** q178: ISOTONIC CALIBRATION (pool-adjacent-violators)
    * ([[TextAnalysis.isotonicCalibration]]) — q143's diagnostic
    * calibration curve upgraded to the actual monotone recalibrator
    * (Zadrozny–Elkan 2002): the q135 model's scores binned at
    * floor(p6·100) with exact integer (n, pos) per bin, PAV pooled
    * driver-side over the ≤100-row grid (the PCA driver-eigen
    * precedent), every bin reporting its block's pooled pos/n. The
    * oracle reaches the identical fit through the minimax
    * characterization `f(k) = max_{i≤k} min_{j≥k} avg(i..j)` over
    * prefix sums — two independent algorithms meeting at the same
    * exact rational, so a single mis-pooled block hash-mismatches. */
  def q178(t: Tables): DataFrame = {
    val (feats, y) = classifierFeatures
    val w = sharedClassifierWeights(t)
    val scored = TextAnalysis.logisticScore(t.documents, feats, w)
      .select(y.as("y"), Rounding.portable(col("p"), 6).as("p6"))
    TextAnalysis.isotonicCalibration(scored, col("y") === 1.0, col("p6"), bins = 100)
      .select(col("bin"), col("n"), col("pos"),
        Rounding.portable(col("fitted"), 6).as("fitted"))
      .transform(sortedSmall(_, col("bin")))
  }

  /** q179: GROUPED CLOSED-FORM OLS ([[TextAnalysis.groupedOls]]) — the
    * per-source linear diagnostic (token count vs character count):
    * slope ≈ 1/(avg word length + 1), intercept ≈ 0, R² near 1 on
    * clean text — a source whose fit drifts has structurally different
    * tokenization (code, CJK, boilerplate). One map-side-combined
    * aggregate; all five moments are EXACT integer sums, so both
    * engines compute the identical doubles from the identical longs
    * (the closed-form formulas are single divisions). */
  def q179(t: Tables): DataFrame =
    TextAnalysis.groupedOls(t.documents, col("source"),
        col("n_chars"), size(split(col("text"), " ")).cast("long"))
      .select(col("g").as("source"), col("n"),
        Rounding.portable(col("slope"), 6).as("slope"),
        Rounding.portable(col("intercept"), 6).as("intercept"),
        Rounding.portable(col("r2"), 6).as("r2"))
      .transform(sortedSmall(_, col("source")))

  /** q180: IMAGE LUMINANCE HISTOGRAM + ENTROPY
    * ([[graft.operators.Multimodal.imageHistogram]]) — the image-side
    * quality signal (blank/constant images collapse to one bin, natural
    * texture spreads): 16 exact-count bins per real-decoded textured
    * PNG, plus the Shannon entropy of the bin distribution derived
    * columnar (HOF fold over the fixed bin order — the engine-identical
    * form) and the joined histogram string pinning every count. The
    * oracle re-derives every pixel from the synthTexturedBytes closed
    * form (the q156/q40 no-codec-oracle discipline). */
  def q180(t: Tables): DataFrame = {
    val d = t.documents.select(col("doc_id")).filter(col("doc_id") % 10 === 6)
    val blobs = graft.operators.Multimodal.synthTexturedImages(d, "doc_id")
    graft.operators.Multimodal.imageHistogram(blobs, "doc_id", "blob", bins = 16)
      .withColumn("n_px", aggregate(col("hist"), lit(0L), _ + _))
      .select(col("doc_id"), col("n_px"),
        size(filter(col("hist"), _ > 0L)).cast("long").as("nz_bins"),
        array_join(transform(col("hist"), _.cast("string")), ",").as("hist"),
        // ORDER-EXACT entropy (r18 ADVICE): the Spark fold runs in bin
        // order but the oracle's SUM is unordered — snap each
        // (c/n)·ln(c/n) term to a 1e-12 integer grid and sum exact
        // longs so both engines reach the identical total regardless of
        // summation order (and sub-1e-12 ln() ulp skew rounds away)
        Rounding.portable(
          -(aggregate(filter(col("hist"), _ > 0L), lit(0L),
            (acc, c) => acc +
              round((c.cast("double") / col("n_px")) *
                log(c.cast("double") / col("n_px")) * lit(1e12)).cast("long"))
            .cast("double") / lit(1e12)),
          6).as("entropy6"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q181: EMPIRICAL QUANTILE TRANSFORM
    * ([[TextAnalysis.quantileTransform]]) — rank normalization of the
    * q135 model's scores: every doc's p6 is replaced by its mid-rank
    * ECDF position (ties share their average rank, outputs in (0,1]) —
    * the distribution-free feature map that makes score thresholds
    * transferable across corpora. One vocabulary-sized window + a
    * score-keyed join back; every position is a rational of exact
    * longs, re-derived by the oracle over the same training chain. The
    * gated slice pins doc_id, the raw score AND the position, so a
    * single mis-ranked tie group hash-mismatches. */
  def q181(t: Tables): DataFrame = {
    val (feats, y) = classifierFeatures
    val w = sharedClassifierWeights(t)
    val scored = TextAnalysis.logisticScore(t.documents, feats, w)
      .select(col("doc_id"), Rounding.portable(col("p"), 6).as("p6"))
    TextAnalysis.quantileTransform(scored, col("p6"), "qpos")
      .filter(col("doc_id") % 10 === 4)
      .select(col("doc_id"), col("p6"), Rounding.portable(col("qpos"), 6).as("qpos"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q182: POPULATION STABILITY INDEX ([[TimeSeries.psiDrift]]) — the
    * model-governance drift number between the even- and odd-doc_id
    * halves of the corpus over n_chars: reference-decile bins (the
    * q45/q137 percentile identity), add-one-smoothed fractions, per-bin
    * `(p_cur − p_ref)·ln(p_cur/p_ref)` terms. The gate pins every bin's
    * raw counts, both smoothed fractions and the term — the PSI total
    * is their sum. Completes the drift family: q171 CUSUM (sequential
    * mean), q175 KS (distribution shape), q101/q163 (vocab
    * divergences), q182 PSI (the binned industry report). */
  def q182(t: Tables): DataFrame =
    TimeSeries.psiDrift(
        t.documents.filter(col("doc_id") % 2 === 0),
        t.documents.filter(col("doc_id") % 2 === 1),
        col("n_chars"), bins = 10)
      .select(col("bin"), col("n_ref"), col("n_cur"),
        Rounding.portable(col("ref_frac"), 6).as("ref_frac"),
        Rounding.portable(col("cur_frac"), 6).as("cur_frac"),
        Rounding.portable(col("term"), 6).as("term"))
      .transform(sortedSmall(_, col("bin")))

  /** q183: GROUPED GINI CONCENTRATION ([[TextAnalysis.giniByGroup]]) —
    * the mixture-balance inequality audit: per source, how concentrated
    * is the token mass across that source's documents (a source whose
    * mass lives in a few giant docs shrinks dramatically under any
    * per-doc cap — the number a mixture planner reads next to q114's
    * temperature weights). Exact rank form over ascending (tokens,
    * doc_id); `Σ i·x_i` and `Σ x` are exact BIGINT sums (the q179
    * integral-moment trick) so both engines compute the identical
    * divisions. */
  def q183(t: Tables): DataFrame =
    TextAnalysis.giniByGroup(t.documents, col("source"),
        size(split(col("text"), " ")).cast("long"), col("doc_id"))
      .select(col("g").as("source"), col("n"), col("total"),
        Rounding.portable(col("gini"), 6).as("gini"))
      .transform(sortedSmall(_, col("source")))

  /** q184: BENFORD FIRST-DIGIT AUDIT ([[graft.operators.Cleaning
    * .benfordAudit]]) — the numeric data-quality screen over a derived
    * magnitude column (doc_id·n_chars — a product of two ranges spreads
    * leading digits across the Benford support; n_chars alone is
    * range-bounded and legitimately non-Benford, which is exactly the
    * distinction the screen exists to surface): per digit 1–9 the
    * observed count, the log10(1+1/d) expectation and the Pearson χ²
    * term. All 9 spine rows pinned, empty digits included. */
  def q184(t: Tables): DataFrame =
    graft.operators.Cleaning.benfordAudit(
        t.documents, col("doc_id") * col("n_chars"))
      .select(col("digit"), col("obs"),
        Rounding.portable(col("exp_frac"), 6).as("exp_frac"),
        Rounding.portable(col("term"), 6).as("term"))
      .transform(sortedSmall(_, col("digit")))

  /** q185: BINNED KS DRIFT ([[TimeSeries.ksDriftBinned]]) — the 100 TB
    * sibling of q175's exact KS, on the input class the exact form must
    * REFUSE (its grid is groups × distinct-values): a continuous value
    * column — l_extendedprice per returnflag over the corpus's largest
    * table. CDFs are evaluated on 32 equal-population quantile edges
    * (the q182 edge discipline); binning is an in-row fold over the
    * broadcast edge array (map-only), the grid is groups × 32 by
    * construction, and the statistic is exact rationals of exact binned
    * counts. The gate pins the edges (the percentile ≡ quantile_cont
    * identity), the fold, the CDF grid and the sup. */
  def q185(t: Tables): DataFrame =
    TimeSeries.ksDriftBinned(t.lineitem, col("l_returnflag"),
        col("l_extendedprice"), bins = 32)
      .select(col("g").as("flag"), col("n"), col("n_rest"),
        Rounding.portable(col("d"), 6).as("d"),
        Rounding.portable(col("ks"), 6).as("ks"))
      .transform(sortedSmall(_, col("flag")))

  /** q186: BINNED QUANTILE TRANSFORM
    * ([[TextAnalysis.quantileTransformBinned]]) — q181's rank
    * normalization in the form that survives a continuous score at
    * corpus scale: the q135 training chain's p6 scores mapped to their
    * 16-bin equal-population ECDF midpoints. No distinct-score table,
    * no single-partition cumulative window — one exact-percentile edge
    * pass, then a MAP-ONLY in-row fold (the plan-shape gate's point).
    * Same gated slice and columns as q181 so the two transforms are
    * directly comparable row-for-row. */
  def q186(t: Tables): DataFrame = {
    val (feats, y) = classifierFeatures
    val w = sharedClassifierWeights(t)
    val scored = TextAnalysis.logisticScore(t.documents, feats, w)
      .select(col("doc_id"), Rounding.portable(col("p"), 6).as("p6"))
    TextAnalysis.quantileTransformBinned(scored, col("p6"), "qpos", bins = 16)
      .filter(col("doc_id") % 10 === 4)
      .select(col("doc_id"), col("p6"), Rounding.portable(col("qpos"), 6).as("qpos"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q187: BENFORD FIRST-SIGNIFICANT-DIGIT AUDIT
    * ([[graft.operators.Cleaning.benfordSignificant]]) — q184's screen
    * completed for fractional data: the audited column is the computed
    * rebate `l_extendedprice · l_discount`, whose mass spans sub-unit
    * to thousands — exactly the column class the integer-part variant
    * would silently truncate (every sub-unit rebate excluded). The gate
    * pins the mantissa normalization (log10/pow with the off-by-one
    * exponent correction), the 1e-9 grid snap that makes the digit
    * engine-exact, and the χ² census on all 9 spine rows. */
  def q187(t: Tables): DataFrame =
    graft.operators.Cleaning.benfordSignificant(
        t.lineitem, col("l_extendedprice") * col("l_discount"))
      .select(col("digit"), col("obs"),
        Rounding.portable(col("exp_frac"), 6).as("exp_frac"),
        Rounding.portable(col("term"), 6).as("term"))
      .transform(sortedSmall(_, col("digit")))

  /** q188: TWO-SAMPLE KS VS A PERSISTED REFERENCE
    * ([[TimeSeries.ksBinnedVsReference]] over
    * [[TimeSeries.psiReference]]'s artifact) — the "has this slice
    * drifted from the reference corpus?" form the streaming monitor
    * ([[graft.streaming.StreamOps.ksWindowed]]) asks per window, gated
    * batch-side: the events value distribution of the month's SECOND
    * half against edges + histogram built from the FIRST half. One
    * artifact pass (two bounded reference scans), then a map-only
    * binned scan of the current slice, one fixed-state aggregate, and
    * the CDF sup folded in-row. The gate pins the edge identity, the
    * histogram, the sup fold and the sqrt scaling in one row. */
  def q188(t: Tables): DataFrame = {
    val split = to_timestamp(lit("2024-01-16"))
    val (edges, counts) = TimeSeries.psiReference(
      t.events.filter(col("ts") < split), col("value"), bins = 16)
    TimeSeries.ksBinnedVsReference(
        t.events.filter(col("ts") >= split), col("value"), edges, counts)
      .select(col("n_cur"), col("n_ref"),
        Rounding.portable(col("d"), 6).as("d"),
        Rounding.portable(col("ks"), 6).as("ks"))
  }

  /** q61: array set operations — per-document stopword/content split via
    * `array_intersect` / `array_except` / `array_distinct` (set semantics:
    * distinct element counts), the no-explode form of vocabulary
    * bookkeeping. */
  def q61(t: Tables): DataFrame = {
    val stop = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
    val toks = split(col("text"), " ")
    t.documents
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"),
        size(array_intersect(toks, stop)).cast("long").as("nstop"),
        size(array_except(toks, stop)).cast("long").as("nuniq"),
        size(array_distinct(toks)).cast("long").as("ndist"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q62: markup stripping + PII redaction ([[Cleaning.stripMarkup]] /
    * [[Cleaning.redactPii]]) — the fixture text is plain tokens, so the
    * markup/PII is synthesized deterministically around it; the md5 of the
    * cleaned text gates every replacement byte-for-byte. */
  def q62(t: Tables): DataFrame = {
    val raw = concat(
      lit("<p id=\""), col("doc_id").cast("string"), lit("\">"), col("text"),
      lit("</p> <a href=\"http://x.example\">link</a> contact user"),
      col("doc_id").cast("string"),
      lit("@mail.example.com or 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val cleaned = Cleaning.redactPii(Cleaning.stripMarkup(raw))
    t.documents
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), md5(cleaned).as("h"), length(cleaned).cast("long").as("len"))
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q63: explicit GROUPING SETS (beyond Q27 rollup / q44 cube): the
    * (flag, status), (flag), () lattice with grouping_id. */
  def q63(t: Tables): DataFrame =
    t.lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        Rounding.portable(sum("l_quantity"), 2).as("qty"))
      .transform(sortedSmall(_,
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first, col("gid")))

  /** q64: correlated scalar subquery (decorrelated by Catalyst into a
    * left outer aggregate join — `.explain` shows no per-row subplan),
    * exercised through `spark.sql` since the DataFrame API has no scalar
    * subquery surface. Views are query-prefixed to stay collision-free in
    * a shared session. */
  def q64(t: Tables): DataFrame = {
    t.customer.createOrReplaceTempView("q64_customer")
    t.orders.createOrReplaceTempView("q64_orders")
    t.spark.sql("""
      SELECT c_mktsegment, count(*) AS n, avg(mx) AS am0 FROM (
        SELECT c_mktsegment,
               (SELECT max(o_totalprice) FROM q64_orders o
                WHERE o.o_custkey = c.c_custkey) AS mx
        FROM q64_customer c) t
      WHERE mx > 400000 GROUP BY c_mktsegment""")
      .select(col("c_mktsegment"), col("n"),
        Rounding.portable(col("am0"), 2).as("am"))
      .transform(sortedSmall(_, col("c_mktsegment")))
  }

  /** q65: calendar gap fill ([[TimeSeries.grid]]/[[TimeSeries.gapFill]]) —
    * hourly error-event series densified to the full hourly grid of the
    * whole event table, absent hours as explicit zeros. Grid and
    * aggregated data side are both bounded (≤ one row per hour), so the
    * fill join broadcasts regardless of input scale. */
  def q65(t: Tables): DataFrame = {
    val hourly = t.events
      .filter(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), Rounding.portable(sum("value"), 2).as("s"))
    val grid = TimeSeries.grid(t.events, date_trunc("hour", col("ts")), "1 HOUR", "h")
    TimeSeries.gapFill(grid, hourly, "h", Map("n" -> lit(0L), "s" -> lit(0.0)))
      .transform(sortedSmall(_, col("h")))
  }

  /** q66: bigram frequency (token 2-grams over the corpus, top 20 with a
    * total-order tie-break) — the n-gram statistics pass of an LM data
    * pipeline, built on [[TextOps.shingles]]. */
  def q66(t: Tables): DataFrame =
    t.documents
      .select(explode(TextOps.shinglesNative(TextOps.tokens(col("text")), 2)).as("bg"))
      .groupBy("bg")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg"))
      .limit(20)
      .transform(sortedSmall(_, col("n").desc, col("bg")))

  /** q67: keep-latest-per-key dedup — the "retain each document's newest
    * version" policy (row_number over (key, recency) = 1), the ordered
    * sibling of q24's content dedup. One window shuffle on the key;
    * at scale identical to the top-k-per-group shape (WindowGroupLimit
    * pushes the rn=1 filter into the sort). */
  def q67(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc_nulls_last, col("event_id").desc_nulls_last)
    t.events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event"),
        col("ts").as("last_ts"), col("event_type").as("last_type"))
      .transform(sortedSmall(_, col("user_id")))
  }

  /** q68: multi-match extraction (`regexp_extract_all` → explode) — link
    * inventory over a corpus, the URL-density / domain-frequency pass of
    * a web-scrape pipeline (URLs synthesized deterministically; the
    * fixture text has none). */
  def q68(t: Tables): DataFrame = {
    val raw = concat(col("text"),
      lit(" see http://site"), (col("doc_id") % 7).cast("string"),
      lit(".example/page"), col("doc_id").cast("string"),
      lit(" and https://www.ref.example/x"), (col("doc_id") % 3).cast("string"))
    t.documents
      .select(explode(regexp_extract_all(raw, lit("https?://[^ ]+"), lit(0))).as("url"))
      .select(regexp_extract(col("url"), "https?://([^/]+)", 1).as("domain"))
      .groupBy("domain").agg(count(lit(1)).as("n"))
      .transform(sortedSmall(_, col("domain")))
  }

  /** q69: null-aware NOT IN — the three-valued-logic trap as a gated
    * semantic: the same NOT IN over a subquery that contains a NULL
    * returns NO rows (any comparison with NULL is unknown). Spark plans
    * the null-aware anti join for this; both counts are gated so a
    * future planner change that "fixes" the semantics would surface. */
  def q69(t: Tables): DataFrame = {
    t.customer.createOrReplaceTempView("q69_customer")
    t.orders.createOrReplaceTempView("q69_orders")
    t.spark.sql("""
      SELECT
        CAST((SELECT count(*) FROM q69_customer WHERE c_custkey NOT IN
           (SELECT o_custkey FROM q69_orders WHERE o_totalprice > 450000)) AS BIGINT) AS n_clean,
        CAST((SELECT count(*) FROM q69_customer WHERE c_custkey NOT IN
           (SELECT CASE WHEN o_custkey % 10 = 0 THEN NULL ELSE o_custkey END
            FROM q69_orders WHERE o_totalprice > 450000)) AS BIGINT) AS n_nullpoisoned""")
  }

  /** q70: FULL OUTER join — monthly order activity vs monthly shipping
    * activity; months present on only one side survive with a zero fill
    * (the §2.4 join family's last uncovered member). */
  def q70(t: Tables): DataFrame = {
    val om = t.orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("no"))
    val lm = t.lineitem
      .groupBy(date_trunc("month", col("l_shipdate")).as("m"))
      .agg(count(lit(1)).as("nl"))
    om.join(lm, Seq("m"), "full_outer")
      .select(col("m"), coalesce(col("no"), lit(0L)).as("no"),
        coalesce(col("nl"), lit(0L)).as("nl"))
      .transform(sortedSmall(_, col("m")))
  }

  /** q71: LATERAL correlated subquery — per-region top-2 nations by
    * supplier balance, the "top-k per outer row" shape written as the
    * SQL standard's lateral join (Spark decorrelates it into a window
    * under the hood; rounding applied OUTSIDE the lateral ordering so
    * both engines rank the same unrounded sums). */
  def q71(t: Tables): DataFrame = {
    t.region.createOrReplaceTempView("q71_region")
    t.nation.createOrReplaceTempView("q71_nation")
    t.supplier.createOrReplaceTempView("q71_supplier")
    t.spark.sql("""
      SELECT r_name, n_name, bal0 FROM q71_region r,
      LATERAL (SELECT n_name, sum(s_acctbal) AS bal0
               FROM q71_nation n JOIN q71_supplier s ON s_nationkey = n_nationkey
               WHERE n_regionkey = r.r_regionkey
               GROUP BY n_name ORDER BY bal0 DESC, n_name LIMIT 2) t""")
      .select(col("r_name"), col("n_name"), Rounding.portable(col("bal0"), 2).as("bal"))
      .transform(sortedSmall(_, col("r_name"), col("bal").desc, col("n_name")))
  }

  val all: Map[String, Tables => DataFrame] = Map(
    "q56_hash_sample"    -> q56 _,
    "q57_dedup_clusters" -> q57 _,
    "q58_unpivot"        -> q58 _,
    "q59_forward_fill"   -> q59 _,
    "q60_range_frame"    -> q60 _,
    "q61_array_setops"   -> q61 _,
    "q62_text_clean"     -> q62 _,
    "q63_grouping_sets"  -> q63 _,
    "q64_scalar_subquery" -> q64 _,
    "q65_gap_fill"       -> q65 _,
    "q66_bigrams"        -> q66 _,
    "q67_keep_latest"    -> q67 _,
    "q68_url_extract"    -> q68 _,
    "q69_not_in_null"    -> q69 _,
    "q70_full_outer"     -> q70 _,
    "q71_lateral_topk"   -> q71 _,
    "q72_dedup_clusters_stars" -> q72 _,
    "q73_audio_decode"   -> q73 _,
    "q74_decontaminate"  -> q74 _,
    "q75_incremental_dedup" -> q75 _,
    "q76_gif_frames"     -> q76 _,
    "q78_mixture_sample" -> q78 _,
    "q79_repetition"     -> q79 _,
    "q81_ulaw_decode"    -> q81 _,
    "q82_decontaminate_norm" -> q82 _,
    "q83_chunking"       -> q83 _,
    "q84_packing"        -> q84 _,
    "q85_cluster_audit"  -> q85 _,
    "q86_exact_substring" -> q86 _,
    "q87_exact_dup_guard" -> q87 _,
    "q88_exact_substring_self" -> q88 _,
    "q145_exact_substring_dfcap" -> q145 _,
    "q91_domain_pagerank" -> q91 _,
    "q92_zorder_key" -> q92 _,
    "q93_train_val_test" -> q93 _,
    "q94_pmi_collocations" -> q94 _,
    "q95_cluster_quality" -> q95 _,
    "q96_contamination_frac" -> q96 _,
    "q97_quantile_gate" -> q97 _,
    "q98_unigram_surprisal" -> q98 _,
    "q99_hits" -> q99 _,
    "q100_mixture_report" -> q100 _,
    "q101_js_drift" -> q101 _,
    "q102_source_dup_matrix" -> q102 _,
    "q103_novelty_curve" -> q103 _,
    "q104_embedding_audit" -> q104 _,
    "q105_seeded_shuffle" -> q105 _,
    "q164_weighted_sample" -> q164 _,
    "q106_keep_one_census" -> q106 _,
    "q107_containment" -> q107 _,
    "q108_winnowing" -> q108 _,
    "q109_keep_best" -> q109 _,
    "q110_substring_removal" -> q110 _,
    "q111_sketch_novelty" -> q111 _,
    "q112_bpe_tokens" -> q112 _,
    "q113_bpe_packing" -> q113 _,
    "q114_temperature_mixture" -> q114 _,
    "q115_gopher_gate"   -> q115 _,
    "q116_dsir_weights"  -> q116 _,
    "q117_bigram_lm_ce"  -> q117 _,
    "q119_bpe_vocab32k"  -> q119 _,
    "q120_gopher_full"   -> q120 _,
    "q121_pii_scrub"     -> q121 _,
    "q122_line_dedup"    -> q122 _,
    "q123_unicode_norm"  -> q123 _,
    "q124_heavy_hitters" -> q124 _,
    "q125_url_canon"     -> q125 _,
    "q126_bpe_train"     -> q126 _,
    "q127_bpe_apply"     -> q127 _,
    "q128_line_dedup_hotsafe" -> q128 _,
    "q130_pii_scrub_full" -> q130 _,
    "q132_tokenizer_census" -> q132 _,
    "q134_boilerplate_lines" -> q134 _,
    "q135_classifier_train" -> q135 _,
    "q136_skew_audit" -> q136 _,
    "q137_ccnet_buckets" -> q137 _,
    "q138_pr_curve" -> q138 _,
    "q139_cms_counts" -> q139 _,
    "q140_hashed_tfidf" -> q140 _,
    "q141_hashed_classifier" -> q141 _,
    "q147_trained_langid" -> q147 _,
    "q143_calibration" -> q143 _,
    "q154_roc_auc" -> q154 _,
    "q157_interpolate_linear" -> q157 _,
    "q158_hilbert_key" -> q158 _,
    "q171_cusum" -> q171 _,
    "q172_binary_hamming" -> q172 _,
    "q173_lsh_tuning" -> q173 _,
    "q174_rendezvous_shards" -> q174 _,
    "q175_ks_drift" -> q175 _,
    "q176_audio_features" -> q176 _,
    "q177_hybrid_rrf" -> q177 _,
    "q178_isotonic_calibration" -> q178 _,
    "q179_grouped_ols" -> q179 _,
    "q180_image_histogram" -> q180 _,
    "q181_quantile_transform" -> q181 _,
    "q182_psi_drift" -> q182 _,
    "q183_gini_concentration" -> q183 _,
    "q184_benford_audit" -> q184 _,
    "q185_ks_binned" -> q185 _,
    "q186_quantile_binned" -> q186 _,
    "q187_benford_significant" -> q187 _,
    "q188_ks_vs_reference" -> q188 _,
  )

  /** q57/q72 shared oracle: the dedup-cluster resolution is
    * algorithm-agnostic (recursive-CTE reachability in DuckDB), so both
    * the pointer-jumped and the large-star/small-star CC paths are
    * hash-gated against the same independent implementation. */
  /** q126 oracle: K BPE training iterations UNROLLED as CTE layers
    * (generated, like the q112/q119 vocab interpolation — but here the
    * structure repeats, not the data). Round i over segmentation
    * `seg{i-1}`:
    *   - `pos`: one row per (word, position) with the symbol and its
    *     right neighbor;
    *   - `top`: the argmax adjacent pair by (weighted count DESC,
    *     space-joined pair ASC) — the trainer's exact tie-break (symbols
    *     contain no spaces, and ' ' sorts below every symbol byte, so
    *     joined-string order ≡ (a, b) tuple order);
    *   - `cand/isl/cho`: greedy left-to-right application restated for
    *     sets: candidate positions are islands of consecutive j
    *     (gaps-and-islands via j − row_number), and within an island the
    *     odd ranks merge — a run of L identical symbols pairs ⌊L/2⌋
    *     times from the left, exactly the in-row fold's behavior (for
    *     a ≠ b every island is a singleton and all candidates merge);
    *   - `emit/seg`: chosen positions emit the merged piece, positions
    *     consumed by a chosen left neighbor (lag window) vanish.
    * Cross-checked against an independent reference implementation
    * during development; at K=8 the fixture corpus stays well above the
    * exhaustion edge. The seg/pos/top layers are `AS MATERIALIZED`:
    * DuckDB inlines plain CTEs, so each of a round's four scalar
    * `(SELECT … FROM top_i)` references would re-evaluate the whole
    * prior chain — exponential in K (the un-hinted form exhausts file
    * handles re-opening the parquet before it exhausts time). */
  private def bpeTrainOracle(k: Int): String = {
    val finals = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, (SELECT a || b FROM top$i) AS piece, " +
      s"CAST((SELECT c FROM top$i) AS BIGINT) AS pair_count").mkString(" UNION ALL ")
    s"WITH ${bpeTrainCtes(k)}\n" +
    s"      SELECT * FROM ($finals) ORDER BY rank"
  }

  /** q127 oracle: the SAME unrolled training chain, but the final select
    * reads `seg{k}` — the trainer's final word→segmentation table — and
    * maps every word of the gated doc slice through it in order. The
    * merge-order inference expression must reproduce training
    * segmentations exactly (the rank-order replay theorem), so the two
    * engines meet at the segmentation, not just the merge list. */
  private def bpeApplyOracle(k: Int): String =
    s"""WITH ${bpeTrainCtes(k)},
      d AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
            FROM documents WHERE doc_id % 10 = 5),
      wpos AS (SELECT doc_id, CAST(i AS INT) AS i, ws[i] AS w
               FROM d, unnest(range(1, len(ws)+1)) t(i)
               WHERE ws[i] <> ''),
      jn AS (SELECT wpos.doc_id, wpos.i,
                    CAST(len(sg.s) AS BIGINT) AS np,
                    array_to_string(sg.s, ' ') AS seg
             FROM wpos JOIN seg$k sg ON wpos.w = sg.w)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(np) AS BIGINT) AS n_pieces,
             md5(string_agg(seg, ' ' ORDER BY i)) AS h
      FROM jn GROUP BY doc_id ORDER BY doc_id NULLS FIRST"""

  private def bpeTrainCtes(k: Int): String = {
    val seed = """seg0 AS MATERIALIZED (SELECT w, cnt, regexp_extract_all(w, '.') AS s FROM (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t
      WHERE w <> '' GROUP BY w))"""
    val rounds = (1 to k).map { i =>
      val p = i - 1
      s"""pos$i AS MATERIALIZED (SELECT w, cnt, CAST(j AS INT) AS j, s[j] AS sym, s[j+1] AS nxt
      FROM seg$p, unnest(range(1, len(s)+1)) t(j)),
      top$i AS MATERIALIZED (SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b, c
      FROM (SELECT sym || ' ' || nxt AS pair, sum(cnt) AS c FROM pos$i
            WHERE nxt IS NOT NULL GROUP BY 1)
      ORDER BY c DESC, pair LIMIT 1),
      cand$i AS (SELECT w, cnt, j, sym,
      CASE WHEN sym = (SELECT a FROM top$i) AND nxt = (SELECT b FROM top$i) THEN 1 ELSE 0 END AS cd
      FROM pos$i),
      isl$i AS (SELECT w, cnt, j, sym, cd,
      CASE WHEN cd = 1 THEN j - row_number() OVER (PARTITION BY w, cd ORDER BY j) END AS grp
      FROM cand$i),
      cho$i AS (SELECT w, cnt, j, sym, cd,
      CASE WHEN cd = 1 AND row_number() OVER (PARTITION BY w, grp ORDER BY j) % 2 = 1 THEN 1 ELSE 0 END AS ch
      FROM isl$i),
      emit$i AS (SELECT w, cnt, j,
      CASE WHEN ch = 1 THEN sym || (SELECT b FROM top$i) ELSE sym END AS osym,
      coalesce(lag(ch) OVER (PARTITION BY w ORDER BY j), 0) AS consumed
      FROM cho$i),
      seg$i AS MATERIALIZED (SELECT w, min(cnt) AS cnt, list(osym ORDER BY j) AS s
      FROM emit$i WHERE consumed = 0 GROUP BY w)"""
    }
    (seed +: rounds).mkString(",\n      ")
  }

  /** q135 oracle: the FULL gradient-descent trajectory unrolled as CTE
    * rounds (the bpeTrainOracle discipline applied to model training).
    * `f` computes the identical features with identical association;
    * round i evaluates the gradient under `w{i-1}` (1-row weight CTE,
    * cross-joined), snaps each component to the 1e-9 grid with the
    * EXPLICIT `floor(sum/n * 1e9 + 0.5)/1e9` the trainer's
    * [[TextAnalysis.gridRound]] uses (never a library `round` — the
    * half-rule differs across engines), and updates `w{i} = w{i-1} −
    * lr·g{i}`. Because the rounded gradients agree exactly, the weight
    * TRAJECTORY is bit-identical between Spark and DuckDB, and the gate
    * pins the raw weight doubles plus the scored slice. MATERIALIZED for
    * the bpeTrainOracle reason: each round references the previous
    * weight CTE several times. */
  private def logisticZ: String = s"(((b + c1 * x1) + c2 * x2) + c3 * x3)"

  private def logisticCtes(iters: Int): String = {
    val stop = "('the','a','of','and','to','is')"
    val feat = s"""f0 AS (SELECT doc_id, lang,
        CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS n,
        CAST(length(text) AS DOUBLE) AS lc,
        CAST(len(list_filter(string_split(lower(text), ' '),
          w -> w IN $stop)) AS DOUBLE) AS sw
      FROM documents),
      f AS MATERIALIZED (SELECT doc_id, y,
        n / 100.0 AS x1,
        (lc - (n - 1.0)) / n / 10.0 AS x2,
        sw / n AS x3 FROM f0),
      w0 AS (SELECT 0.0 AS b, 0.0 AS c1, 0.0 AS c2, 0.0 AS c3)"""
    val rounds = (1 to iters).map { i =>
      val p = i - 1
      val diff = s"(1.0 / (1.0 + exp(-$logisticZ)) - y)"
      def g(term: String) =
        s"floor(sum($term) / CAST(count(*) AS DOUBLE) * 1e9 + 0.5) / 1e9"
      s"""g$i AS MATERIALIZED (SELECT
        ${g(diff)} AS g0, ${g(s"$diff * x1")} AS g1,
        ${g(s"$diff * x2")} AS g2, ${g(s"$diff * x3")} AS g3
      FROM f, w$p),
      w$i AS MATERIALIZED (SELECT b - 0.5 * g0 AS b, c1 - 0.5 * g1 AS c1,
        c2 - 0.5 * g2 AS c2, c3 - 0.5 * g3 AS c3 FROM w$p, g$i)"""
    }
    (feat +: rounds).mkString(",\n      ")
  }

  private def logisticOracle(iters: Int): String =
    s"""WITH ${logisticCtes(iters)}
      SELECT doc_id, CAST(y AS BIGINT) AS y,
        b AS w0, c1 AS w1, c2 AS w2, c3 AS w3,
        round($logisticZ, 6) AS z6,
        round(1.0 / (1.0 + exp(-$logisticZ)), 6) AS p6,
        CAST(CASE WHEN 1.0 / (1.0 + exp(-$logisticZ)) > 0.5
          THEN 1 ELSE 0 END AS BIGINT) AS pred
      FROM f, w$iters WHERE doc_id % 20 = 3
      ORDER BY doc_id NULLS FIRST"""

  /** q138 thresholds — exact decimal literals: both engines parse each
    * to the identical nearest double, and the swept score is the
    * 6-decimal grid, so `>=` at a threshold can never disagree. */
  val prThresholds: Seq[Double] =
    Seq(0.40, 0.42, 0.44, 0.45, 0.46, 0.465, 0.47, 0.48, 0.50)

  /** q138 oracle: the SAME unrolled training chain scores the WHOLE
    * corpus, then one conditional-sum pass per threshold (generated) +
    * a UNION ALL reshape — the operator's single-aggregate shape
    * restated relationally. */
  private def prCurveOracle(iters: Int): String = {
    val sums = prThresholds.zipWithIndex.map { case (t, i) =>
      s"""CAST(sum(CASE WHEN p6 >= CAST($t AS DOUBLE) AND y = 1.0
           THEN 1 ELSE 0 END) AS BIGINT) AS tp$i,
         CAST(sum(CASE WHEN p6 >= CAST($t AS DOUBLE) AND y = 0.0
           THEN 1 ELSE 0 END) AS BIGINT) AS fp$i"""
    }.mkString(",\n        ")
    val finals = prThresholds.zipWithIndex.map { case (t, i) =>
      s"""SELECT CAST($t AS DOUBLE) AS thr, tp$i AS tp, fp$i AS fp,
           pos - tp$i AS fn, neg - fp$i AS tn,
           CASE WHEN tp$i + fp$i > 0
             THEN CAST(tp$i AS DOUBLE) / (tp$i + fp$i) END AS precision,
           CASE WHEN pos > 0
             THEN CAST(tp$i AS DOUBLE) / pos END AS recall
         FROM one"""
    }.mkString(" UNION ALL ")
    s"""WITH ${logisticCtes(iters)},
      sc AS (SELECT y, round(1.0 / (1.0 + exp(-$logisticZ)), 6) AS p6
             FROM f, w$iters),
      one AS (SELECT
        $sums,
        CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        CAST(sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM sc)
      SELECT * FROM ($finals) ORDER BY thr"""
  }

  /** q141 oracle: the hashed trainer's iteration chain with the weight
    * vector as a bucket-keyed TABLE per round — the relational mirror of
    * weights-as-a-DataFrame. Feature pairs, labels and each round's
    * z/g/w layers are MATERIALIZED (the bpeTrainOracle reason);
    * gradients grid-round with the exact in-plan formula. */
  private def hashedLogisticOracle(dims: Int, iters: Int): String = {
    val base = s"""tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents),
      cnt AS (SELECT doc_id,
                CAST(concat('0x', substr(md5(w), 1, 4)) AS BIGINT) % $dims AS b,
                CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY doc_id, b),
      nn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
      fp AS MATERIALIZED (
        SELECT cnt.doc_id, b, c / n AS x FROM cnt JOIN nn USING (doc_id)
        UNION ALL SELECT doc_id, $dims AS b, 1.0 AS x FROM documents),
      lab AS MATERIALIZED (SELECT doc_id,
        CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      w0 AS MATERIALIZED (SELECT DISTINCT b, 0.0 AS wb FROM fp)"""
    val rounds = (1 to iters).map { i =>
      val p = i - 1
      s"""z$i AS MATERIALIZED (SELECT doc_id, sum(x * wb) AS z
        FROM fp JOIN w$p USING (b) GROUP BY doc_id),
      d$i AS (SELECT z$i.doc_id, 1.0 / (1.0 + exp(-z)) - y AS d
        FROM z$i JOIN lab USING (doc_id)),
      g$i AS MATERIALIZED (SELECT b,
        floor(sum(d * x) / (SELECT nd FROM nd) * 1e9 + 0.5) / 1e9 AS g
        FROM fp JOIN d$i USING (doc_id) GROUP BY b),
      w$i AS MATERIALIZED (SELECT w$p.b, wb - 0.5 * g AS wb
        FROM w$p JOIN g$i USING (b))"""
    }
    s"""WITH ${(base +: rounds).mkString(",\n      ")},
      zf AS (SELECT doc_id, sum(x * wb) AS z
             FROM fp JOIN w$iters USING (b) GROUP BY doc_id)
      SELECT zf.doc_id, CAST(y AS BIGINT) AS y,
        round(z, 6) AS z6,
        round(1.0 / (1.0 + exp(-z)), 6) AS p6,
        CAST(CASE WHEN 1.0 / (1.0 + exp(-z)) > 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred
      FROM zf JOIN lab USING (doc_id) WHERE zf.doc_id % 20 = 7
      ORDER BY zf.doc_id NULLS FIRST"""
  }

  /** q147's oracle: [[hashedLogisticOracle]]'s iteration unroll run once
    * per language (shared tok/fp/w0 CTEs), final scores 6-decimal
    * rounded, argmax replayed as the same (z6 DESC, cand ASC) window. */
  private def langidOracle(dims: Int, iters: Int, langs: Seq[String]): String = {
    val base = s"""tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents),
      cnt AS (SELECT doc_id,
                CAST(concat('0x', substr(md5(w), 1, 4)) AS BIGINT) % $dims AS b,
                CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY doc_id, b),
      nn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
      fp AS MATERIALIZED (
        SELECT cnt.doc_id, b, c / n AS x FROM cnt JOIN nn USING (doc_id)
        UNION ALL SELECT doc_id, $dims AS b, 1.0 AS x FROM documents),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      w0 AS MATERIALIZED (SELECT DISTINCT b, 0.0 AS wb FROM fp)"""
    val chains = langs.map { l =>
      val lab = s"""lab_$l AS MATERIALIZED (SELECT doc_id,
        CASE WHEN lang = '$l' THEN 1.0 ELSE 0.0 END AS y FROM documents)"""
      val rounds = (1 to iters).map { i =>
        val p = if (i == 1) "w0" else s"w${i - 1}_$l"
        s"""z${i}_$l AS MATERIALIZED (SELECT doc_id, sum(x * wb) AS z
        FROM fp JOIN $p USING (b) GROUP BY doc_id),
      d${i}_$l AS (SELECT z${i}_$l.doc_id, 1.0 / (1.0 + exp(-z)) - y AS d
        FROM z${i}_$l JOIN lab_$l USING (doc_id)),
      g${i}_$l AS MATERIALIZED (SELECT b,
        floor(sum(d * x) / (SELECT nd FROM nd) * 1e9 + 0.5) / 1e9 AS g
        FROM fp JOIN d${i}_$l USING (doc_id) GROUP BY b),
      w${i}_$l AS MATERIALIZED (SELECT $p.b, wb - 0.5 * g AS wb
        FROM $p JOIN g${i}_$l USING (b))"""
      }
      val score = s"""zf_$l AS (SELECT doc_id, '$l' AS cand, round(sum(x * wb), 6) AS z6
        FROM fp JOIN w${iters}_$l USING (b) GROUP BY doc_id)"""
      (lab +: rounds) :+ score
    }
    val union = langs.map(l => s"SELECT * FROM zf_$l").mkString("\n        UNION ALL ")
    s"""WITH ${(base +: chains.flatten).mkString(",\n      ")},
      sc AS ($union),
      pick AS (SELECT doc_id, cand,
        row_number() OVER (PARTITION BY doc_id ORDER BY z6 DESC, cand ASC) AS rn
        FROM sc)
      SELECT d.lang, p.cand AS pred, CAST(count(*) AS BIGINT) AS n
      FROM pick p JOIN documents d USING (doc_id) WHERE rn = 1
      GROUP BY d.lang, p.cand
      ORDER BY lang NULLS FIRST, pred NULLS FIRST"""
  }

  private val dedupClustersOracle: String = """
      WITH RECURSIVE doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT DISTINCT doc_id, concat(s[i], ' ', s[i+1], ' ', s[i+2]) AS w
              FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      sig AS (SELECT doc_id,
          min(md5(concat('0|', w))) AS h0, min(md5(concat('1|', w))) AS h1,
          min(md5(concat('2|', w))) AS h2, min(md5(concat('3|', w))) AS h3,
          min(md5(concat('4|', w))) AS h4, min(md5(concat('5|', w))) AS h5,
          min(md5(concat('6|', w))) AS h6, min(md5(concat('7|', w))) AS h7
        FROM tok GROUP BY doc_id),
      band AS (
        SELECT doc_id, 0 AS bi, md5(concat(h0, h1, h2, h3)) AS bk FROM sig
        UNION ALL
        SELECT doc_id, 1 AS bi, md5(concat(h4, h5, h6, h7)) AS bk FROM sig),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM band a JOIN band b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
      est AS (SELECT da, db,
          ((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT +
           (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT) / 8.0 AS est
        FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db),
      edges AS (SELECT da AS src, db AS dst FROM est WHERE est >= 0.5
                UNION SELECT db, da FROM est WHERE est >= 0.5),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.id),
      comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
      SELECT rep, count(*) AS n,
             string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
      FROM comp GROUP BY rep ORDER BY rep NULLS FIRST"""

  private val oraclesBase: Map[String, String] = Map(
    "q56_hash_sample" -> """
      WITH k AS (SELECT l_returnflag, l_quantity,
        CAST(concat('0x', substr(md5(concat(CAST(l_orderkey AS VARCHAR), ':',
          CAST(l_linenumber AS VARCHAR))), 1, 4)) AS INT) AS b
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
      FROM k
      WHERE b < CASE l_returnflag WHEN 'A' THEN 16384 WHEN 'N' THEN 6554
                                  WHEN 'R' THEN 32768 ELSE -1 END
      GROUP BY l_returnflag ORDER BY l_returnflag NULLS FIRST""",

    "q57_dedup_clusters" -> dedupClustersOracle,
    "q72_dedup_clusters_stars" -> dedupClustersOracle,

    // q73: the decode is real (javax.sound.sampled); the INPUT WAVs are
    // synthesized under the closed-form contract on synthWavBytes, so the
    // oracle re-derives every value from doc_id without decoding anything
    // (the audio twin of q40's image oracle)
    "q73_audio_decode" -> """
      WITH n AS (SELECT doc_id, 100 + doc_id % 400 AS ns FROM documents),
      s AS (SELECT doc_id, ns, ((doc_id*31 + i*17) % 2001) - 1000 AS v
            FROM n, unnest(range(0, ns)) AS t(i))
      SELECT doc_id,
             CAST(1 AS INTEGER) AS channels,
             CAST(8000 AS INTEGER) AS sample_rate,
             CAST(16 AS INTEGER) AS bits,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(v) AS BIGINT) AS sum_s,
             CAST(min(v) AS INTEGER) AS min_s,
             CAST(max(v) AS INTEGER) AS max_s
      FROM s GROUP BY doc_id ORDER BY doc_id NULLS FIRST""",

    // q81: the DECODE is real (javax.sound µ-law → PCM conversion); the
    // oracle expands the synthesized code bytes with the closed-form
    // G.711 formula (u = 255-b; mag = ((u%16)*8+132) << ((u//16)%8), -132;
    // negated when u >= 128) — verified equal to the JDK decoder on all
    // 256 code points in MultimodalSpec
    "q81_ulaw_decode" -> """
      WITH n AS (SELECT doc_id, 80 + doc_id % 320 AS ns FROM documents),
      b AS (SELECT doc_id, (doc_id*37 + i*11) % 256 AS code
            FROM n, unnest(range(0, ns)) AS t(i)),
      v AS (SELECT doc_id,
              CASE WHEN (255 - code) >= 128
                   THEN -(((((255 - code) % 16) * 8 + 132) << (((255 - code) // 16) % 8)) - 132)
                   ELSE ((((255 - code) % 16) * 8 + 132) << (((255 - code) // 16) % 8)) - 132
              END AS v
            FROM b)
      SELECT doc_id,
             CAST(1 AS INTEGER) AS channels,
             CAST(8000 AS INTEGER) AS sample_rate,
             CAST(8 AS INTEGER) AS bits,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(v) AS BIGINT) AS sum_s,
             CAST(min(v) AS INTEGER) AS min_s,
             CAST(max(v) AS INTEGER) AS max_s
      FROM v GROUP BY doc_id ORDER BY doc_id NULLS FIRST""",

    "q74_decontaminate" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               concat(s[i], ' ', s[i+1], ' ', s[i+2], ' ', s[i+3], ' ', s[i+4]) AS w
             FROM doc, unnest(range(1, greatest(len(s) - 3, 1))) AS t(i)),
      ev AS (SELECT DISTINCT w FROM sh WHERE doc_id % 7 = 0),
      tr AS (SELECT doc_id, w FROM sh WHERE doc_id % 7 <> 0)
      SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM tr JOIN ev USING (w)
      GROUP BY tr.doc_id ORDER BY tr.doc_id NULLS FIRST""",

    // q85: q31's pair chain + q57's recursive-CTE components, joined —
    // per-cluster cohesion stats over the internal pair evidence
    "q85_cluster_audit" -> """
      WITH RECURSIVE doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT DISTINCT doc_id, concat(s[i], ' ', s[i+1], ' ', s[i+2]) AS w
              FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      sig AS (SELECT doc_id,
          min(md5(concat('0|', w))) AS h0, min(md5(concat('1|', w))) AS h1,
          min(md5(concat('2|', w))) AS h2, min(md5(concat('3|', w))) AS h3,
          min(md5(concat('4|', w))) AS h4, min(md5(concat('5|', w))) AS h5,
          min(md5(concat('6|', w))) AS h6, min(md5(concat('7|', w))) AS h7
        FROM tok GROUP BY doc_id),
      band AS (
        SELECT doc_id, 0 AS bi, md5(concat(h0, h1, h2, h3)) AS bk FROM sig
        UNION ALL
        SELECT doc_id, 1 AS bi, md5(concat(h4, h5, h6, h7)) AS bk FROM sig),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM band a JOIN band b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
      est AS (SELECT da, db,
          ((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT +
           (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT) / 8.0 AS est
        FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db),
      pairs AS (SELECT da, db, est FROM est WHERE est >= 0.5),
      edges AS (SELECT da AS src, db AS dst FROM pairs
                UNION SELECT db, da FROM pairs),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.id),
      comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
      sizes AS (SELECT rep, count(*) AS n_members FROM comp GROUP BY rep),
      pc AS (SELECT comp.rep, p.est FROM pairs p JOIN comp ON comp.id = p.da)
      SELECT s.rep, CAST(s.n_members AS BIGINT) AS n_members,
             CAST(count(*) AS BIGINT) AS n_pairs,
             round(min(pc.est), 6) AS min_est, round(avg(pc.est), 6) AS avg_est
      FROM pc JOIN sizes s ON s.rep = pc.rep
      GROUP BY s.rep, s.n_members ORDER BY s.rep NULLS FIRST""",

    // q83: DuckDB list slice s[a:b] is 1-based inclusive ≡ Spark
    // slice(arr, a, len); the negative-numerator kmax divergence (DuckDB
    // // floors, Spark DIV truncates) is clamped away by greatest(0, ·)
    "q83_chunking" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      n AS (SELECT doc_id, s, len(s) AS n FROM doc),
      k AS (SELECT doc_id, s, greatest(0, (n - 50 + 39) // 40) AS kmax FROM n),
      c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_id, s[i*40+1 : i*40+50] AS chunk
            FROM k, unnest(range(0, kmax + 1)) AS t(i))
      SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_tokens,
             md5(array_to_string(chunk, ' ')) AS chunk_md5
      FROM c ORDER BY doc_id NULLS FIRST, chunk_id NULLS FIRST""",

    // q84: exclusive prefix sum per source shard in doc_id order; a doc
    // joins the sequence where its first token lands
    "q84_packing" -> """
      WITH d AS (SELECT source, doc_id, len(string_split(text, ' ')) AS tok FROM documents),
      o AS (SELECT source, tok,
              sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS off
            FROM d)
      SELECT source AS shard, CAST(off // 512 AS BIGINT) AS seq_id,
             CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
      FROM o GROUP BY shard, seq_id ORDER BY shard NULLS FIRST, seq_id NULLS FIRST""",

    // q86: positional 8-shingles joined train×eval, runs collapsed along
    // each match diagonal with the pos − row_number() island key; an
    // island of c matches covers c + 7 tokens
    // q111: bottom-64 KMV per day, cumulative merge as bottom-64 over the
    // unioned per-day distinct hash sets (the semilattice identity the
    // Spark side exploits to merge sketches instead of raw data — if
    // Spark's merged sketch diverged from raw-data bottom-k, the hash
    // would catch it). Estimate arithmetic mirrored operation-for-
    // operation: (k-1) / (first-8-hex-digits / 2^32), IEEE-exact.
    "q111_sketch_novelty" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT doc_id % 10 AS slice, concat(s[i],' ',s[i+1],' ',s[i+2]) AS w
              FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      d AS (SELECT DISTINCT slice, md5(w) AS h FROM tok),
      days AS (SELECT DISTINCT slice AS day FROM d),
      merged AS (SELECT DISTINCT day, h FROM d JOIN days ON d.slice <= days.day),
      rk AS (SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn FROM merged),
      agg AS (SELECT day, CAST(count(*) AS BIGINT) AS n_sketch, max(h) AS hmax
              FROM rk WHERE rn <= 64 GROUP BY day)
      SELECT a.day, a.n_sketch,
             CASE WHEN a.n_sketch = 64 THEN a.hmax ELSE '' END AS kth_hash,
             round(CASE WHEN a.n_sketch < 64 THEN CAST(a.n_sketch AS DOUBLE)
                   ELSE 63.0 / (CAST(concat('0x', substr(a.hmax, 1, 8)) AS BIGINT) / 4294967296.0)
                   END, 6) AS est_cum
      FROM agg a
      ORDER BY day NULLS FIRST""",

    // q112: the vocab relation comes from BpeVocab.sqlValues (single
    // source of truth with the Spark expression); greedy longest-match is
    // re-derived per distinct word by the recursive CTE — each step peels
    // the longest vocab piece prefixing the remainder (unique: equal-
    // length distinct pieces can't both prefix one string) or one char.
    // Terminal rows (rem = '') carry the piece count and the piece string;
    // per-doc reassembly string_aggs in word-position order, skipping
    // empty words exactly as the Spark side's flat piece array does.
    "q112_bpe_tokens" -> s"""
      WITH RECURSIVE
      vocab(piece) AS ${graft.plans.BpeVocab.sqlValues},
      doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      toks AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, s[i] AS w
               FROM doc, unnest(range(1, len(s) + 1)) AS t(i)),
      dw AS (SELECT DISTINCT w FROM toks),
      seg AS (
        SELECT w, w AS rem, CAST(0 AS BIGINT) AS np, '' AS acc FROM dw
        UNION ALL
        SELECT w, substr(rem, length(p) + 1), np + 1,
               CASE WHEN acc = '' THEN p ELSE acc || ' ' || p END
        FROM (
          SELECT s.w, s.rem, s.np, s.acc,
            coalesce((SELECT v.piece FROM vocab v
                      WHERE starts_with(s.rem, v.piece)
                      ORDER BY length(v.piece) DESC LIMIT 1),
                     substr(s.rem, 1, 1)) AS p
          FROM seg s WHERE s.rem <> ''
        )
      ),
      wp AS (SELECT w, np, acc FROM seg WHERE rem = '')
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(wp.np) AS BIGINT) AS n_pieces,
             round(sum(wp.np) * 1.0 / count(*), 6) AS bpe_ratio,
             coalesce(string_agg(CASE WHEN wp.acc <> '' THEN wp.acc END,
                                 ' ' ORDER BY t.pos), '') AS pieces
      FROM toks t JOIN wp ON t.w = wp.w
      GROUP BY t.doc_id
      ORDER BY doc_id NULLS FIRST""",

    // q113: q112's per-word recursive segmentation summed to a per-doc
    // piece count, then q84's exclusive-prefix-sum packing over those
    // counts (same ROWS frame, same // 512 sequence assignment)
    "q113_bpe_packing" -> s"""
      WITH RECURSIVE
      vocab(piece) AS ${graft.plans.BpeVocab.sqlValues},
      doc AS (SELECT doc_id, source, string_split(lower(text), ' ') AS s FROM documents),
      toks AS (SELECT doc_id, s[i] AS w FROM doc, unnest(range(1, len(s) + 1)) AS t(i)),
      dw AS (SELECT DISTINCT w FROM toks),
      seg AS (
        SELECT w, w AS rem, CAST(0 AS BIGINT) AS np, '' AS acc FROM dw
        UNION ALL
        SELECT w, substr(rem, length(p) + 1), np + 1,
               CASE WHEN acc = '' THEN p ELSE acc || ' ' || p END
        FROM (
          SELECT s.w, s.rem, s.np, s.acc,
            coalesce((SELECT v.piece FROM vocab v
                      WHERE starts_with(s.rem, v.piece)
                      ORDER BY length(v.piece) DESC LIMIT 1),
                     substr(s.rem, 1, 1)) AS p
          FROM seg s WHERE s.rem <> ''
        )
      ),
      wp AS (SELECT w, np FROM seg WHERE rem = ''),
      d AS (SELECT t.doc_id, CAST(sum(wp.np) AS BIGINT) AS tok
            FROM toks t JOIN wp ON t.w = wp.w GROUP BY t.doc_id),
      o AS (SELECT doc.source, d.tok,
              sum(d.tok) OVER (PARTITION BY doc.source ORDER BY d.doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - d.tok AS off
            FROM d JOIN doc ON d.doc_id = doc.doc_id)
      SELECT source AS shard, CAST(off // 512 AS BIGINT) AS seq_id,
             CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
      FROM o GROUP BY shard, seq_id
      ORDER BY shard NULLS FIRST, seq_id NULLS FIRST""",

    // q115: Gopher rules — mean word len via in-list length sum; top
    // 2-gram by (count DESC, gram) row_number (deterministic argmax both
    // engines); keep = the conjunction over UNROUNDED metrics (integer/
    // integer double divisions are IEEE-identical cross-engine)
    "q115_gopher_gate" -> """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS s,
                        length(text) AS nch FROM documents),
      m AS (SELECT doc_id,
              CAST(len(s) AS BIGINT) AS n_words,
              list_aggregate(list_transform(s, w -> length(w)), 'sum')
                / CAST(len(s) AS DOUBLE) AS mwl,
              CAST(len(list_filter(s,
                w -> w IN ('the','a','and','of','to','in'))) AS BIGINT) AS stop_hits
            FROM d),
      g AS (SELECT doc_id, nch, concat(s[i], ' ', s[i+1]) AS gram
            FROM d, unnest(range(1, greatest(len(s), 1))) AS t(i)),
      gc AS (SELECT doc_id, nch, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
      rk AS (SELECT doc_id, nch, gram, c, row_number() OVER (
               PARTITION BY doc_id ORDER BY c DESC, gram) AS rn FROM gc),
      top AS (SELECT doc_id,
                c * length(gram) / CAST(nch AS DOUBLE) AS t2 FROM rk WHERE rn = 1)
      SELECT m.doc_id, m.n_words,
             CAST(round(m.mwl * 1000000.0) AS BIGINT) AS mwl6, m.stop_hits,
             CAST(round(coalesce(top.t2, 0) * 1000000.0) AS BIGINT) AS top2_frac6,
             (m.n_words BETWEEN 15 AND 10000 AND m.mwl BETWEEN 2 AND 10
              AND m.stop_hits >= 2 AND coalesce(top.t2, 0) <= 0.08) AS keep
      FROM m LEFT JOIN top ON m.doc_id = top.doc_id
      WHERE m.doc_id % 10 = 4 ORDER BY m.doc_id NULLS FIRST""",

    // q116: DSIR — bucket = q105's md5 top-16-bits idiom mod 64; Laplace
    // (c+1)/(tot+64) both sides, per-token ln-ratio summed per doc.
    // BIGINT/BIGINT division is double in both engines; ln = natural log.
    "q116_dsir_weights" -> """
      WITH tok AS (SELECT doc_id, lang = 'en' AS tgt,
                          unnest(string_split(lower(text), ' ')) AS w FROM documents),
      tb AS (SELECT doc_id, tgt,
               CAST(concat('0x', substr(md5(w), 1, 4)) AS BIGINT) % 64 AS b FROM tok),
      c AS (SELECT b,
              CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
              CAST(sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT) AS cr
            FROM tb GROUP BY b),
      t AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
                   CAST(sum(cr) AS BIGINT) AS tr FROM c),
      r AS (SELECT b, ln((ct + 1) / (tt + 64)) - ln((cr + 1) / (tr + 64)) AS lr
            FROM c, t),
      sc AS (SELECT tb.doc_id, count(*) AS n_tok, sum(r.lr) AS w
             FROM tb JOIN r ON tb.b = r.b GROUP BY tb.doc_id)
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, round(w, 6) AS weight
      FROM sc WHERE doc_id % 10 = 5 ORDER BY doc_id NULLS FIRST""",

    // q117: add-one bigram LM on the lang='en' slice (c2/c1 from the
    // SAME bigram stream, V = distinct target unigrams); every doc
    // scored by avg(-ln p) — q98's association order per term
    "q117_bigram_lm_ce" -> """
      WITH d AS (SELECT doc_id, lang = 'en' AS tgt,
                        string_split(lower(text), ' ') AS s FROM documents),
      g AS (SELECT doc_id, tgt, s[i] AS w1, concat(s[i], ' ', s[i+1]) AS gram
            FROM d, unnest(range(1, greatest(len(s), 1))) AS t(i)),
      c2 AS (SELECT gram, CAST(count(*) AS BIGINT) AS c2 FROM g WHERE tgt GROUP BY gram),
      c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM g WHERE tgt GROUP BY w1),
      v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
            FROM (SELECT unnest(s) AS w FROM d WHERE tgt)),
      sc AS (SELECT g.doc_id, count(*) AS n_bigrams,
               avg(-ln((coalesce(c2.c2, 0) + 1) / (coalesce(c1.c1, 0) + v.v))) AS ce
             FROM g
             LEFT JOIN c2 ON g.gram = c2.gram
             LEFT JOIN c1 ON g.w1 = c1.w1
             CROSS JOIN v
             GROUP BY g.doc_id)
      SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, round(ce, 6) AS ce
      FROM sc WHERE doc_id % 10 = 6 ORDER BY doc_id NULLS FIRST""",

    // q119: q112's recursive segmentation against the closed-form
    // regenerated ~34k vocab (letter cross-joins + curated fixture
    // VALUES); the greedy longest-match is re-derived with a bounded
    // substr(5..2) equality-probe ladder — legal because
    // BpeVocabLarge.MaxPieceLen pins every piece at <= 5 chars (substr
    // of a shorter remainder returns the remainder, so each probe can
    // only hit a piece that actually prefixes it)
    "q119_bpe_vocab32k" -> s"""
      WITH RECURSIVE
      fixture(piece) AS ${graft.plans.BpeVocab.sqlValues},
      letter(s) AS (SELECT chr(97 + CAST(i AS INT)) FROM range(26) t(i)),
      vowel(s) AS (VALUES ('a'),('e'),('i'),('o'),('u')),
      cons(s) AS (SELECT s FROM letter WHERE s NOT IN (SELECT s FROM vowel)),
      vocab(piece) AS (
        SELECT piece FROM fixture
        UNION SELECT a.s || b.s FROM letter a, letter b
        UNION SELECT a.s || b.s || c.s FROM letter a, letter b, letter c
        UNION SELECT c1.s || v1.s || c2.s || v2.s
              FROM cons c1, vowel v1, cons c2, vowel v2
        UNION SELECT v1.s || c1.s || v2.s || c2.s
              FROM vowel v1, cons c1, vowel v2, cons c2
              WHERE v1.s IN ('a', 'e')
      ),
      doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      toks AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, s[i] AS w
               FROM doc, unnest(range(1, len(s) + 1)) AS t(i)),
      dw AS (SELECT DISTINCT w FROM toks),
      seg AS (
        SELECT w, w AS rem, CAST(0 AS BIGINT) AS np, '' AS acc FROM dw
        UNION ALL
        SELECT w, substr(rem, length(p) + 1), np + 1,
               CASE WHEN acc = '' THEN p ELSE acc || ' ' || p END
        FROM (
          SELECT s.w, s.rem, s.np, s.acc,
            coalesce(
              (SELECT piece FROM vocab v WHERE v.piece = substr(s.rem, 1, 5)),
              (SELECT piece FROM vocab v WHERE v.piece = substr(s.rem, 1, 4)),
              (SELECT piece FROM vocab v WHERE v.piece = substr(s.rem, 1, 3)),
              (SELECT piece FROM vocab v WHERE v.piece = substr(s.rem, 1, 2)),
              substr(s.rem, 1, 1)) AS p
          FROM seg s WHERE s.rem <> ''
        )
      ),
      wp AS (SELECT w, np, acc FROM seg WHERE rem = '')
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(wp.np) AS BIGINT) AS n_pieces,
             round(sum(wp.np) * 1.0 / count(*), 6) AS bpe_ratio,
             coalesce(string_agg(CASE WHEN wp.acc <> '' THEN wp.acc END,
                                 ' ' ORDER BY t.pos), '') AS pieces
      FROM toks t JOIN wp ON t.w = wp.w
      GROUP BY t.doc_id
      ORDER BY doc_id NULLS FIRST""",

    // q132: q119's recursive segmentation machinery with the probe
    // ladder, extended to carry ncp (1-char emissions); per-doc sums
    // joined back onto the doc spine (LEFT) so zero-token docs count,
    // then per-source aggregation — BIGINT/BIGINT division is double in
    // both engines (the q116 precedent)
    "q132_tokenizer_census" -> s"""
      WITH RECURSIVE
      fixture(piece) AS ${graft.plans.BpeVocab.sqlValues},
      letter(s) AS (SELECT chr(97 + CAST(i AS INT)) FROM range(26) t(i)),
      vowel(s) AS (VALUES ('a'),('e'),('i'),('o'),('u')),
      cons(s) AS (SELECT s FROM letter WHERE s NOT IN (SELECT s FROM vowel)),
      vocab(piece) AS (
        SELECT piece FROM fixture
        UNION SELECT a.s || b.s FROM letter a, letter b
        UNION SELECT a.s || b.s || c.s FROM letter a, letter b, letter c
        UNION SELECT c1.s || v1.s || c2.s || v2.s
              FROM cons c1, vowel v1, cons c2, vowel v2
        UNION SELECT v1.s || c1.s || v2.s || c2.s
              FROM vowel v1, cons c1, vowel v2, cons c2
              WHERE v1.s IN ('a', 'e')
      ),
      doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      toks AS (SELECT doc_id, s[i] AS w
               FROM doc, unnest(range(1, len(s) + 1)) AS t(i)),
      dw AS (SELECT DISTINCT w FROM toks),
      seg AS (
        SELECT w, w AS rem, CAST(0 AS BIGINT) AS np, CAST(0 AS BIGINT) AS ncp FROM dw
        UNION ALL
        SELECT w, substr(rem, length(p) + 1), np + 1,
               ncp + CASE WHEN length(p) = 1 THEN 1 ELSE 0 END
        FROM (
          SELECT s.w, s.rem, s.np, s.ncp,
            coalesce(
              (SELECT piece FROM vocab v WHERE v.piece = substr(s.rem, 1, 5)),
              (SELECT piece FROM vocab v WHERE v.piece = substr(s.rem, 1, 4)),
              (SELECT piece FROM vocab v WHERE v.piece = substr(s.rem, 1, 3)),
              (SELECT piece FROM vocab v WHERE v.piece = substr(s.rem, 1, 2)),
              substr(s.rem, 1, 1)) AS p
          FROM seg s WHERE s.rem <> ''
        )
      ),
      wp AS (SELECT w, np, ncp FROM seg WHERE rem = ''),
      perdoc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS nw,
                   CAST(sum(wp.np) AS BIGINT) AS np,
                   CAST(sum(wp.ncp) AS BIGINT) AS ncp,
                   CAST(sum(length(t.w)) AS BIGINT) AS nch
                 FROM toks t JOIN wp ON t.w = wp.w GROUP BY t.doc_id),
      ds AS (SELECT coalesce(source, '__null__') AS source, doc_id FROM documents)
      SELECT ds.source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(coalesce(nw, 0)) AS BIGINT) AS n_words,
             CAST(sum(coalesce(np, 0)) AS BIGINT) AS n_pieces,
             round(sum(coalesce(np, 0)) / sum(coalesce(nw, 0)), 6) AS fertility,
             round(sum(coalesce(ncp, 0)) / sum(coalesce(np, 0)), 6) AS char_fallback_frac,
             round(sum(coalesce(nch, 0)) / sum(coalesce(np, 0)), 6) AS chars_per_piece
      FROM ds LEFT JOIN perdoc USING (doc_id)
      GROUP BY ds.source ORDER BY ds.source NULLS FIRST""",

    // q120: the derived line/paragraph structure (2-word lines, 4-line
    // paragraphs) is rebuilt verbatim, then each battery metric mirrors
    // the Spark expression: whitespace-regex tokens with empties
    // filtered, dup fractions as (n - n_distinct)/n over non-empty
    // parts, top-n-gram argmax via (count DESC, gram) row_number, keep
    // over UNROUNDED metrics
    "q120_gopher_full" -> """
      WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS s0
                  FROM documents WHERE doc_id % 10 = 8),
      ln AS (SELECT doc_id, list_transform(range(0, CAST(ceil(len(s0)/2.0) AS INT)),
               i -> array_to_string(s0[i*2+1:i*2+2], ' ')) AS lines FROM d0),
      pa AS (SELECT doc_id, list_transform(range(0, CAST(ceil(len(lines)/4.0) AS INT)),
               j -> array_to_string(lines[j*4+1:j*4+4], chr(10))) AS paras FROM ln),
      t AS (SELECT doc_id, array_to_string(paras, chr(10)||chr(10)) AS text FROM pa),
      m AS (SELECT doc_id, length(text) AS nch,
              list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS s,
              list_filter(string_split(text, chr(10)), l -> l <> '') AS lines,
              list_filter(string_split(text, chr(10)||chr(10)), p -> p <> '') AS paras
            FROM t),
      base AS (SELECT doc_id, nch,
              CAST(len(s) AS BIGINT) AS n_words,
              list_aggregate(list_transform(s, w -> length(w)), 'sum')
                / CAST(len(s) AS DOUBLE) AS mwl,
              CAST(len(list_filter(s,
                w -> w IN ('the','a','and','of','to','in'))) AS BIGINT) AS stop_hits,
              CAST(len(lines) AS BIGINT) AS n_lines,
              (len(lines) - len(list_distinct(lines)))
                / CAST(len(lines) AS DOUBLE) AS dlf,
              CAST(len(paras) AS BIGINT) AS n_paras,
              (len(paras) - len(list_distinct(paras)))
                / CAST(len(paras) AS DOUBLE) AS dpf
            FROM m),
      g2 AS (SELECT doc_id, nch, array_to_string(s[i:i+1], ' ') AS g
             FROM m, unnest(range(1, greatest(len(s), 1))) u(i)),
      c2 AS (SELECT doc_id, nch, g, count(*) AS c FROM g2 GROUP BY 1, 2, 3),
      r2 AS (SELECT doc_id, c * length(g) / CAST(nch AS DOUBLE) AS f,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c2),
      g3 AS (SELECT doc_id, nch, array_to_string(s[i:i+2], ' ') AS g
             FROM m, unnest(range(1, greatest(len(s) - 1, 1))) u(i)),
      c3 AS (SELECT doc_id, nch, g, count(*) AS c FROM g3 GROUP BY 1, 2, 3),
      r3 AS (SELECT doc_id, c * length(g) / CAST(nch AS DOUBLE) AS f,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c3),
      g4 AS (SELECT doc_id, nch, array_to_string(s[i:i+3], ' ') AS g
             FROM m, unnest(range(1, greatest(len(s) - 2, 1))) u(i)),
      c4 AS (SELECT doc_id, nch, g, count(*) AS c FROM g4 GROUP BY 1, 2, 3),
      r4 AS (SELECT doc_id, c * length(g) / CAST(nch AS DOUBLE) AS f,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c4)
      SELECT b.doc_id, b.n_words,
             CAST(round(b.mwl * 1000000.0) AS BIGINT) AS mwl6, b.stop_hits,
             CAST(round(coalesce(t2.f, 0) * 1000000.0) AS BIGINT) AS top2_frac6,
             CAST(round(coalesce(t3.f, 0) * 1000000.0) AS BIGINT) AS top3_frac6,
             CAST(round(coalesce(t4.f, 0) * 1000000.0) AS BIGINT) AS top4_frac6,
             b.n_lines, CAST(round(b.dlf * 1000000.0) AS BIGINT) AS dup_line_frac6,
             b.n_paras, CAST(round(b.dpf * 1000000.0) AS BIGINT) AS dup_para_frac6,
             (b.n_words BETWEEN 15 AND 10000 AND b.mwl BETWEEN 2 AND 10
              AND b.stop_hits >= 2
              AND coalesce(t2.f, 0) <= 0.08 AND coalesce(t3.f, 0) <= 0.10
              AND coalesce(t4.f, 0) <= 0.15
              AND b.dlf <= 0.04 AND b.dpf <= 0.5) AS keep
      FROM base b
      LEFT JOIN (SELECT doc_id, f FROM r2 WHERE rn = 1) t2 ON b.doc_id = t2.doc_id
      LEFT JOIN (SELECT doc_id, f FROM r3 WHERE rn = 1) t3 ON b.doc_id = t3.doc_id
      LEFT JOIN (SELECT doc_id, f FROM r4 WHERE rn = 1) t4 ON b.doc_id = t4.doc_id
      ORDER BY b.doc_id NULLS FIRST""",

    // q121: the PII injection (moduli 3/4/5) is re-derived verbatim;
    // patterns are the Java-regex/RE2 common subset (Cleaning.PiiEmail/
    // PiiIpv4/PiiPhone), counts follow the operator's email-mask-first
    // discipline, and DuckDB's regexp_replace needs the explicit 'g'
    // flag to match Spark's always-global semantics
    "q121_pii_scrub" -> """
      WITH inj AS (SELECT doc_id, text ||
          CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', doc_id, '@corp.example.org now') ELSE '' END ||
          CASE WHEN doc_id % 4 = 1 THEN concat(' from host 10.', doc_id % 256, '.0.', doc_id % 100, ' logged') ELSE '' END ||
          CASE WHEN doc_id % 5 = 2 THEN concat(' call 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END AS t
        FROM documents WHERE doc_id % 10 = 9),
      em AS (SELECT doc_id, t,
          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
        FROM inj),
      ip AS (SELECT doc_id, t, t1,
          regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t2
        FROM em)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        CAST(len(regexp_extract_all(t1, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        md5(regexp_replace(t2, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g')) AS h,
        CAST(length(regexp_replace(t2, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g')) AS BIGINT) AS len
      FROM ip ORDER BY doc_id NULLS FIRST""",


    // q130: the full-category progressive masking replayed in order
    // email -> card -> IBAN -> IP -> SSN -> phone. The card step is a
    // CONDITIONAL LITERAL replace: the fixture controls which injected
    // cards are Luhn-valid (doc_id % 6 = 0) and which are check-digit
    // broken twins (doc_id % 6 = 3), so the oracle masks exactly the
    // valid literals without running Luhn — an engine that masks
    // unvalidated runs or misses a separated card diverges
    "q130_pii_scrub_full" -> """
      WITH inj AS (SELECT doc_id, text ||
          CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', doc_id, '@corp.example.org now') ELSE '' END ||
          CASE WHEN doc_id % 6 = 0 THEN concat(' card ', (['4539 1488 0343 6467','5500 0000 0000 0004','340000000000009','6011-0009-9013-9424'])[CAST(doc_id % 4 AS INT) + 1], ' on file') ELSE '' END ||
          CASE WHEN doc_id % 6 = 3 THEN concat(' card ', (['4539 1488 0343 6468','5500 0000 0000 0005','340000000000000','6011-0009-9013-9425'])[CAST(doc_id % 4 AS INT) + 1], ' on file') ELSE '' END ||
          CASE WHEN doc_id % 4 = 1 THEN concat(' from host 10.', doc_id % 256, '.0.', doc_id % 100, ' logged') ELSE '' END ||
          CASE WHEN doc_id % 7 = 4 THEN concat(' ssn 123-45-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END ||
          CASE WHEN doc_id % 8 = 5 THEN concat(' pay DE89', lpad(CAST(doc_id % 1000000 AS VARCHAR), 18, '0'), ' ref') ELSE '' END ||
          CASE WHEN doc_id % 5 = 2 THEN concat(' call 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END AS t
        FROM documents WHERE doc_id % 10 = 4),
      em AS (SELECT doc_id, t,
          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
        FROM inj),
      cd AS (SELECT doc_id, t, t1,
          CASE WHEN doc_id % 6 = 0 THEN replace(t1,
            (['4539 1488 0343 6467','5500 0000 0000 0004','340000000000009','6011-0009-9013-9424'])[CAST(doc_id % 4 AS INT) + 1], '[CARD]')
          ELSE t1 END AS t2 FROM em),
      ib AS (SELECT doc_id, t, t1, t2,
          regexp_replace(t2, '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b', '[IBAN]', 'g') AS t3 FROM cd),
      ip AS (SELECT doc_id, t, t1, t2, t3,
          regexp_replace(t3, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t4 FROM ib),
      sn AS (SELECT doc_id, t, t1, t2, t3, t4,
          regexp_replace(t4, '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS t5 FROM ip)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_cards,
        CAST(len(regexp_extract_all(t2, '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b')) AS BIGINT) AS n_ibans,
        CAST(len(regexp_extract_all(t3, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        CAST(len(regexp_extract_all(t4, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssns,
        CAST(len(regexp_extract_all(t5, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        md5(regexp_replace(t5, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g')) AS h,
        CAST(length(regexp_replace(t5, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g')) AS BIGINT) AS len
      FROM sn ORDER BY doc_id NULLS FIRST""",

    // q122: 3-word line derivation (q120's slice arithmetic), then
    // keep-first-occurrence corpus-wide restated as a row_number window
    // over (line) ordered by (doc_id, pos) — the same total order the
    // operator uses, so the kept set and the reconstruction are
    // byte-identical; docs whose every line is a repeat reconstruct to
    // md5('')
    "q122_line_dedup" -> """
      WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS s0 FROM documents),
      ln0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
              array_to_string(s0[i*3+1:i*3+3], ' ') AS line
              FROM d0, unnest(range(0, CAST(ceil(len(s0)/3.0) AS INT))) u(i)),
      ln AS (SELECT * FROM ln0 WHERE line <> ''),
      rk AS (SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM ln),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
              CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
              md5(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE rn = 1), '')) AS h
              FROM rk GROUP BY doc_id)
      SELECT d.doc_id, coalesce(a.n_lines, 0) AS n_lines,
             coalesce(a.n_kept, 0) AS n_kept, coalesce(a.h, md5('')) AS h
      FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id NULLS FIRST""",

    // q123: the canonical/compatibility injection re-derived with
    // chr(769) = U+0301 and chr(64257) = U+FB01; NFC comes straight from
    // DuckDB's nfc_normalize, NFKC from the identity
    // NFKC(x) = NFC(expand-ligatures(x)) — exact here because f/i
    // compose with nothing; length() counts code points in both engines
    "q123_unicode_norm" -> """
      WITH inj AS (SELECT doc_id,
          replace(regexp_replace(text, 'a', 'a' || chr(769), 'g'), 'fi', chr(64257)) AS raw
        FROM documents WHERE doc_id % 10 = 7)
      SELECT doc_id,
        CAST(length(raw) AS BIGINT) AS len_decomp,
        CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
        CAST(length(nfc_normalize(replace(raw, chr(64257), 'fi'))) AS BIGINT) AS len_nfkc,
        md5(nfc_normalize(raw)) AS h_nfc,
        md5(nfc_normalize(replace(raw, chr(64257), 'fi'))) AS h_nfkc
      FROM inj ORDER BY doc_id NULLS FIRST""",

    // q124: the sketch is exact at cap=256 >> 31 distinct tokens per
    // source, so the oracle is plain exact counting with the same
    // (est DESC, token) tie-break
    "q124_heavy_hitters" -> """
      WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS w
                   FROM documents),
      c AS (SELECT source, w AS token, CAST(count(*) AS BIGINT) AS est
            FROM tok WHERE w <> '' GROUP BY source, w),
      r AS (SELECT source, token, est,
              CAST(row_number() OVER (PARTITION BY source
                ORDER BY est DESC, token) AS BIGINT) AS rnk FROM c)
      SELECT source, token, est, rnk FROM r WHERE rnk <= 5
      ORDER BY source NULLS FIRST, rnk""",

    // q125: the URL derivation and every canonicalization regex step are
    // replicated in order (the patterns are the Java-regex/RE2 common
    // subset); DuckDB needs the explicit 'g' flag where Spark's
    // regexp_replace is always-global
    "q125_url_canon" -> """
      WITH raw AS (SELECT doc_id,
          CASE WHEN doc_id % 4 = 0 THEN concat('https://host', (doc_id % 50) % 25, '.example.org/p/', doc_id % 50)
               WHEN doc_id % 4 = 1 THEN concat('HTTPS://WWW.Host', (doc_id % 50) % 25, '.Example.ORG:443/p/', doc_id % 50, '/')
               WHEN doc_id % 4 = 2 THEN concat('https://host', (doc_id % 50) % 25, '.example.org/p/', doc_id % 50, '?utm_source=feed&utm_campaign=x', doc_id)
               ELSE concat('https://host', (doc_id % 50) % 25, '.example.org/p/', doc_id % 50, '?ref=kept&utm_medium=mail#frag', doc_id) END AS url
        FROM documents),
      s1 AS (SELECT doc_id, url, regexp_replace(trim(url), '#.*', '', 'g') AS u FROM raw),
      parts AS (SELECT doc_id, url, u,
          lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9.+-]*://)', 1)) AS scheme,
          regexp_replace(u, '^[A-Za-z][A-Za-z0-9.+-]*://', '') AS rest FROM s1),
      hp AS (SELECT doc_id, url, u, scheme,
          lower(regexp_extract(rest, '^([^/?]*)', 1)) AS rawhost,
          regexp_replace(rest, '^[^/?]*', '') AS tail0 FROM parts),
      hh AS (SELECT doc_id, url, u, scheme, tail0,
          regexp_replace(CASE WHEN scheme = 'http://' THEN regexp_replace(rawhost, ':80$', '')
               WHEN scheme = 'https://' THEN regexp_replace(rawhost, ':443$', '')
               ELSE rawhost END, '^www\.', '') AS host FROM hp),
      tt AS (SELECT doc_id, url, u, scheme, host,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            tail0, '&(utm_[a-z]+|fbclid|gclid)=[^&]*', '', 'g'),
            '\?(utm_[a-z]+|fbclid|gclid)=[^&]*&', '?', 'g'),
            '\?(utm_[a-z]+|fbclid|gclid)=[^&]*$', '', 'g'),
            '\?$', '', 'g'), '^([^?]*)/$', '\1', 'g') AS tail FROM hh),
      c AS (SELECT doc_id, url,
          CASE WHEN regexp_matches(u, '^[A-Za-z][A-Za-z0-9.+-]*://')
               THEN concat(scheme, host, tail) ELSE u END AS canon FROM tt)
      SELECT canon, CAST(count(DISTINCT url) AS BIGINT) AS n_forms,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM c GROUP BY canon ORDER BY canon NULLS FIRST""",

    // q126: the unrolled-iteration trainer oracle — see bpeTrainOracle
    "q126_bpe_train" -> bpeTrainOracle(8),

    // q127: the same chain's final segmentation table, mapped over the
    // gated slice — see bpeApplyOracle
    "q127_bpe_apply" -> bpeApplyOracle(8),

    // q114: per-source token totals → natural share p → pow(p, 0.7)
    // reweighting; arithmetic mirrors Sampling.temperatureMixture's
    // expression tree term by term (q94's association precedent) so
    // round(·, 6) sees the same doubles
    "q114_temperature_mixture" -> """
      WITH t AS (SELECT coalesce(source, '__null__') AS stratum,
                        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY 1
                 HAVING sum(len(string_split(text, ' '))) > 0),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t),
      p AS (SELECT stratum, n_tokens,
                   n_tokens / (SELECT total FROM tot) AS p,
                   power(n_tokens / (SELECT total FROM tot), 0.7) AS pa
            FROM t),
      z AS (SELECT sum(pa) AS z FROM p)
      SELECT stratum, n_tokens, round(p, 6) AS p,
             round(pa / (SELECT z FROM z), 6) AS w,
             round(1000000.0 * pa / (SELECT z FROM z), 3) AS target_tokens,
             round(1000000.0 * pa / (SELECT z FROM z) / n_tokens, 6) AS epochs
      FROM p ORDER BY stratum NULLS FIRST""",

    // q110: q86's run detection verbatim, then spans → covered positions
    // → anti-marked token re-join; string_agg(... ORDER BY pos) mirrors
    // Spark's array_sort(collect_list(struct(pos, tok))) re-assembly.
    // Sums cast to BIGINT (DuckDB sums integers to HUGEINT, which pandas
    // would surface as float64); empty survivors coalesce to '' to match
    // Spark's array_join on an empty array.
    "q110_substring_removal" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      sh AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
               concat(s[i],' ',s[i+1],' ',s[i+2],' ',s[i+3],' ',s[i+4],' ',s[i+5],' ',s[i+6],' ',s[i+7]) AS w
             FROM doc, unnest(range(1, greatest(len(s) - 6, 1))) AS t(i)),
      ev AS (SELECT doc_id AS eval_id, pos AS pe, w FROM sh WHERE doc_id % 7 = 0),
      tr AS (SELECT doc_id, pos AS pt, w FROM sh WHERE doc_id % 7 <> 0),
      m AS (SELECT tr.doc_id, ev.eval_id, pt, pe, pt - pe AS diag FROM tr JOIN ev USING (w)),
      i AS (SELECT *, pt - row_number() OVER (PARTITION BY doc_id, eval_id, diag ORDER BY pt) AS island FROM m),
      runs AS (SELECT doc_id, min(pt) AS pos_train, max(pt) - min(pt) + 8 AS run_len
               FROM i GROUP BY doc_id, eval_id, diag, island),
      cov AS (SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
              FROM runs, unnest(range(pos_train, pos_train + run_len)) AS t(p)),
      toks AS (SELECT d.doc_id, CAST(i AS BIGINT) AS pos, s[i] AS tok, len(s) AS n_tokens
               FROM doc d, unnest(range(1, len(s) + 1)) AS t(i)
               WHERE d.doc_id IN (SELECT doc_id FROM cov))
      SELECT t.doc_id, CAST(max(t.n_tokens) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             coalesce(string_agg(CASE WHEN c.pos IS NULL THEN t.tok END, ' ' ORDER BY t.pos), '') AS text_clean
      FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
      GROUP BY t.doc_id
      ORDER BY t.doc_id NULLS FIRST""",

    "q86_exact_substring" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      sh AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
               concat(s[i],' ',s[i+1],' ',s[i+2],' ',s[i+3],' ',s[i+4],' ',s[i+5],' ',s[i+6],' ',s[i+7]) AS w
             FROM doc, unnest(range(1, greatest(len(s) - 6, 1))) AS t(i)),
      ev AS (SELECT doc_id AS eval_id, pos AS pe, w FROM sh WHERE doc_id % 7 = 0),
      tr AS (SELECT doc_id, pos AS pt, w FROM sh WHERE doc_id % 7 <> 0),
      m AS (SELECT tr.doc_id, ev.eval_id, pt, pe, pt - pe AS diag FROM tr JOIN ev USING (w)),
      i AS (SELECT *, pt - row_number() OVER (PARTITION BY doc_id, eval_id, diag ORDER BY pt) AS island FROM m)
      SELECT doc_id, eval_id, min(pt) AS pos_train, min(pe) AS pos_eval,
             CAST(max(pt) - min(pt) + 8 AS BIGINT) AS run_len
      FROM i GROUP BY doc_id, eval_id, diag, island
      ORDER BY doc_id NULLS FIRST, eval_id NULLS FIRST,
               pos_train NULLS FIRST, pos_eval NULLS FIRST""",

    // q87: the bloom bits aren't oracle-portable; the confirmed output is
    // a plain md5-equality join (bloom false positives die in the confirm
    // join, false negatives cannot exist)
    "q87_exact_dup_guard" -> """
      WITH c AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 0),
      b AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 100000, md5(text) FROM documents
            WHERE doc_id % 5 <> 0 AND doc_id % 11 = 0)
      SELECT b.doc_id, c.doc_id AS corpus_id FROM b JOIN c USING (h)
      ORDER BY b.doc_id NULLS FIRST, corpus_id NULLS FIRST""",

    // q93: cumulative md5-bucket cuts — round(0.8*65536)=52429,
    // round(0.9*65536)=58982; membership pinned via per-split aggregates
    "q93_train_val_test" -> """
      WITH k AS (SELECT doc_id, text,
          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) AS b
        FROM documents),
      s AS (SELECT CASE WHEN b < 52429 THEN 'train' WHEN b < 58982 THEN 'val'
                        ELSE 'test' END AS split,
                   len(string_split(text, ' ')) AS tok FROM k)
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS n_tokens
      FROM s GROUP BY split ORDER BY split NULLS FIRST""",

    // q109: q106's component CTE; losers = everyone below rank 1 under
    // (n_chars DESC, id) within their cluster
    "q109_keep_best" -> """
      WITH RECURSIVE doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT DISTINCT doc_id, concat(s[i], ' ', s[i+1], ' ', s[i+2]) AS w
              FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      sig AS (SELECT doc_id,
          min(md5(concat('0|', w))) AS h0, min(md5(concat('1|', w))) AS h1,
          min(md5(concat('2|', w))) AS h2, min(md5(concat('3|', w))) AS h3,
          min(md5(concat('4|', w))) AS h4, min(md5(concat('5|', w))) AS h5,
          min(md5(concat('6|', w))) AS h6, min(md5(concat('7|', w))) AS h7
        FROM tok GROUP BY doc_id),
      band AS (
        SELECT doc_id, 0 AS bi, md5(concat(h0, h1, h2, h3)) AS bk FROM sig
        UNION ALL
        SELECT doc_id, 1 AS bi, md5(concat(h4, h5, h6, h7)) AS bk FROM sig),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM band a JOIN band b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
      est AS (SELECT da, db,
          ((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT +
           (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT) / 8.0 AS est
        FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db),
      edges AS (SELECT da AS src, db AS dst FROM est WHERE est >= 0.5
                UNION SELECT db, da FROM est WHERE est >= 0.5),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.id),
      comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
      members AS (SELECT c.id, c.rep, d.n_chars FROM comp c
                  JOIN documents d ON d.doc_id = c.id),
      losers AS (SELECT id FROM (
          SELECT id, row_number() OVER (PARTITION BY rep
            ORDER BY n_chars DESC NULLS LAST, id NULLS FIRST) AS rn
          FROM members) t WHERE rn <> 1),
      kept AS (SELECT * FROM documents
               WHERE doc_id NOT IN (SELECT id FROM losers))
      SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM kept GROUP BY source ORDER BY source NULLS FIRST""",

    // q108: positional trigram hashes, ROWS 3-PRECEDING window minimum,
    // complete windows only (pos >= 4, 1-based both engines), distinct
    "q108_winnowing" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      ps AS (SELECT doc_id, i AS pos,
               md5(concat(s[i], ' ', s[i+1], ' ', s[i+2])) AS h
             FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      sel AS (SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
              FROM ps),
      f AS (SELECT DISTINCT doc_id, fp FROM sel WHERE pos >= 4)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
             min(fp) AS min_fp, max(fp) AS max_fp
      FROM f WHERE doc_id % 20 = 1
      GROUP BY doc_id ORDER BY doc_id NULLS FIRST""",

    // q107: q33's inverted-index chain with the asymmetric containment
    // formula, df-capped candidate generation (stop shingles with df > 50
    // nominate no pairs), split-count exact intersection i = i_rare +
    // i_stop; filter on max(cab, cba) against the RAW ratios
    "q107_containment" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT DISTINCT doc_id, concat(s[i], ' ', s[i+1], ' ', s[i+2]) AS w
              FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      stop AS (SELECT w FROM tok GROUP BY w HAVING count(*) > 50),
      rare AS (SELECT doc_id, w FROM tok WHERE w NOT IN (SELECT w FROM stop)),
      sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
      ir AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i_rare
        FROM rare a JOIN rare b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
      st AS (SELECT doc_id, w FROM tok WHERE w IN (SELECT w FROM stop)),
      isp AS (SELECT c.da, c.db, count(*) AS i_stop
        FROM (SELECT da, db FROM ir) c
        JOIN st a ON a.doc_id = c.da JOIN st b ON b.doc_id = c.db AND b.w = a.w
        GROUP BY 1, 2),
      inter AS (SELECT ir.da, ir.db, ir.i_rare + coalesce(isp.i_stop, 0) AS i
        FROM ir LEFT JOIN isp ON isp.da = ir.da AND isp.db = ir.db)
      SELECT da, db, CAST(i AS BIGINT) AS i,
             CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
             round(i * 1.0 / sa.n, 6) AS cab,
             round(i * 1.0 / sb.n, 6) AS cba
      FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      WHERE greatest(i * 1.0 / sa.n, i * 1.0 / sb.n) >= 0.8
      ORDER BY da NULLS FIRST, db NULLS FIRST""",

    // q106: q57's recursive reachability gives components; losers (id <>
    // min-reachable rep) anti-join out of documents; survivor census
    "q106_keep_one_census" -> """
      WITH RECURSIVE doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT DISTINCT doc_id, concat(s[i], ' ', s[i+1], ' ', s[i+2]) AS w
              FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      sig AS (SELECT doc_id,
          min(md5(concat('0|', w))) AS h0, min(md5(concat('1|', w))) AS h1,
          min(md5(concat('2|', w))) AS h2, min(md5(concat('3|', w))) AS h3,
          min(md5(concat('4|', w))) AS h4, min(md5(concat('5|', w))) AS h5,
          min(md5(concat('6|', w))) AS h6, min(md5(concat('7|', w))) AS h7
        FROM tok GROUP BY doc_id),
      band AS (
        SELECT doc_id, 0 AS bi, md5(concat(h0, h1, h2, h3)) AS bk FROM sig
        UNION ALL
        SELECT doc_id, 1 AS bi, md5(concat(h4, h5, h6, h7)) AS bk FROM sig),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM band a JOIN band b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
      est AS (SELECT da, db,
          ((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT +
           (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT) / 8.0 AS est
        FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db),
      edges AS (SELECT da AS src, db AS dst FROM est WHERE est >= 0.5
                UNION SELECT db, da FROM est WHERE est >= 0.5),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.id),
      comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
      losers AS (SELECT id FROM comp WHERE id <> rep),
      kept AS (SELECT * FROM documents
               WHERE doc_id NOT IN (SELECT id FROM losers))
      SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM kept GROUP BY source ORDER BY source NULLS FIRST""",

    // q164: u = (md5-20-bit + 1)/2^20 in (0,1], key = ln(u)/n_chars,
    // per-source top-5 on the 9-decimal rounded key, doc_id tie-break
    "q164_weighted_sample" -> """
      WITH w AS (SELECT source, doc_id,
          round(ln((CAST(concat('0x', substr(md5(concat('wsamp|',
              CAST(doc_id AS VARCHAR))), 1, 5)) AS BIGINT) + 1) / 1048576.0)
            / n_chars, 9) AS wkey9
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      r AS (SELECT source, doc_id, wkey9,
          row_number() OVER (PARTITION BY source
            ORDER BY wkey9 DESC NULLS LAST, doc_id NULLS FIRST) AS rn
        FROM w)
      SELECT source, doc_id, wkey9, CAST(rn AS BIGINT) AS rn
      FROM r WHERE rn <= 5 ORDER BY source NULLS FIRST, rn NULLS FIRST""",

    // q105: shard = top-16-bits of md5(seed|key) mod 8 (non-negative, so
    // % ≡ pmod); position ranks the full digest with a key tie-break
    "q105_seeded_shuffle" -> """
      WITH h AS (SELECT doc_id,
          md5(concat('epoch0', '|', CAST(doc_id AS VARCHAR))) AS h FROM documents),
      s AS (SELECT doc_id, h,
              CAST(concat('0x', substr(h, 1, 4)) AS BIGINT) % 8 AS shard FROM h),
      p AS (SELECT shard, doc_id, row_number() OVER (PARTITION BY shard
              ORDER BY h NULLS FIRST, doc_id NULLS FIRST) AS pos FROM s)
      SELECT shard, CAST(pos AS BIGINT) AS pos, doc_id FROM p WHERE pos <= 3
      ORDER BY shard NULLS FIRST, pos NULLS FIRST""",

    // q104: norm = list_distance against a same-length zero vector
    // (bitwise the l2_distance expression's accumulation, q89 precedent)
    "q104_embedding_audit" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id, len(e) AS dim,
              list_distance(e, list_transform(e, x -> CAST(0 AS DOUBLE))) AS norm
            FROM e)
      SELECT CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(count(DISTINCT dim) AS BIGINT) AS n_dims,
             round(min(norm), 6) AS min_norm,
             round(max(norm), 6) AS max_norm,
             round(avg(norm), 6) AS avg_norm,
             CAST(sum(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      FROM n""",

    // q103: min-first-day + total occurrences in one n-gram aggregate,
    // then a 10-row day re-aggregate; NON-distinct shingles (q66's
    // construction) — occurrence counts are the point here
    "q103_novelty_curve" -> """
      WITH doc AS (SELECT doc_id % 10 AS slice, string_split(lower(text), ' ') AS s
                   FROM documents),
      sh AS (SELECT slice, concat(s[i], ' ', s[i+1], ' ', s[i+2]) AS w
             FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      g AS (SELECT w, min(slice) AS first_slice, count(*) AS occ FROM sh GROUP BY w),
      d AS (SELECT first_slice, CAST(count(*) AS BIGINT) AS new_ngrams,
              CAST(sum(occ) AS BIGINT) AS occurrences
            FROM g GROUP BY first_slice)
      SELECT first_slice, new_ngrams, occurrences,
        CAST(sum(new_ngrams) OVER (ORDER BY first_slice NULLS FIRST
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_new
      FROM d ORDER BY first_slice NULLS FIRST""",

    // q102: q31's pair chain folded onto each side's source dimension,
    // unordered pair via least/greatest; avg over the RAW est
    "q102_source_dup_matrix" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT DISTINCT doc_id, concat(s[i], ' ', s[i+1], ' ', s[i+2]) AS w
              FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      sig AS (SELECT doc_id,
          min(md5(concat('0|', w))) AS h0, min(md5(concat('1|', w))) AS h1,
          min(md5(concat('2|', w))) AS h2, min(md5(concat('3|', w))) AS h3,
          min(md5(concat('4|', w))) AS h4, min(md5(concat('5|', w))) AS h5,
          min(md5(concat('6|', w))) AS h6, min(md5(concat('7|', w))) AS h7
        FROM tok GROUP BY doc_id),
      band AS (
        SELECT doc_id, 0 AS bi, md5(concat(h0, h1, h2, h3)) AS bk FROM sig
        UNION ALL
        SELECT doc_id, 1 AS bi, md5(concat(h4, h5, h6, h7)) AS bk FROM sig),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM band a JOIN band b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
      est AS (SELECT da, db,
          ((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT +
           (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT) / 8.0 AS est
        FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db),
      pairs AS (SELECT da, db, est FROM est WHERE est >= 0.5),
      lab AS (SELECT least(sa.source, sb.source) AS src_a,
                     greatest(sa.source, sb.source) AS src_b, p.est
              FROM pairs p
              JOIN documents sa ON sa.doc_id = p.da
              JOIN documents sb ON sb.doc_id = p.db)
      SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
             round(avg(est), 6) AS avg_est
      FROM lab GROUP BY src_a, src_b
      ORDER BY src_a NULLS FIRST, src_b NULLS FIRST""",

    // q101: JS needs no smoothing — the mixture covers the union
    // support, and each side's zero terms are an explicit CASE 0 (never
    // 0*ln(0)); term arithmetic mirrors the Spark expression shape
    "q101_js_drift" -> """
      WITH ta AS (SELECT unnest(string_split(lower(text), ' ')) AS w
                  FROM documents WHERE doc_id % 2 = 0),
      tb AS (SELECT unnest(string_split(lower(text), ' ')) AS w
             FROM documents WHERE doc_id % 2 = 1),
      ca AS (SELECT w, count(*) AS ca FROM ta GROUP BY w),
      cb AS (SELECT w, count(*) AS cb FROM tb GROUP BY w),
      j AS (SELECT coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
            FROM ca FULL OUTER JOIN cb ON ca.w = cb.w),
      tot AS (SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb FROM j),
      term AS (SELECT ca / (SELECT na FROM tot) AS p,
                      cb / (SELECT nb FROM tot) AS q FROM j),
      t2 AS (SELECT p, q, (p + q) / 2 AS m FROM term)
      SELECT CAST((SELECT na FROM tot) AS BIGINT) AS n_a,
             CAST((SELECT nb FROM tot) AS BIGINT) AS n_b,
             CAST(count(*) AS BIGINT) AS vocab,
             round(sum((CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0 END) * 0.5
                     + (CASE WHEN q > 0 THEN q * ln(q / m) ELSE 0 END) * 0.5), 6) AS js
      FROM t2""",

    // q100: q36's langid CASE chain + token counts; shares divide exact
    // BIGINT sums by the double total, the cumulative window spells ROWS
    "q100_mixture_report" -> """
      WITH tok AS (SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w FROM documents),
      sc AS (SELECT doc_id, source, count(*) AS n_tok,
          sum(CASE WHEN w IN ('the', 'a', 'of', 'and', 'to', 'is') THEN 1 ELSE 0 END) AS s_en,
          sum(CASE WHEN w IN ('der', 'die', 'das', 'und', 'ist', 'nicht') THEN 1 ELSE 0 END) AS s_de,
          sum(CASE WHEN w IN ('el', 'la', 'de', 'los', 'y', 'es') THEN 1 ELSE 0 END) AS s_es,
          sum(CASE WHEN w IN ('le', 'les', 'et', 'des', 'un', 'est') THEN 1 ELSE 0 END) AS s_fr
        FROM tok GROUP BY doc_id, source),
      pred AS (SELECT source, n_tok,
          CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
               WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
               WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
               WHEN s_fr > 0 THEN 'fr'
               ELSE 'unknown' END AS pred
        FROM sc),
      grp AS (SELECT source, pred, count(*) AS docs,
                CAST(sum(n_tok) AS BIGINT) AS tokens
              FROM pred GROUP BY source, pred),
      tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS tot FROM grp)
      SELECT source, pred, docs, tokens,
        round(tokens / (SELECT tot FROM tot), 6) AS share,
        round(sum(tokens) OVER (ORDER BY tokens DESC NULLS LAST, source NULLS FIRST, pred NULLS FIRST
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          / (SELECT tot FROM tot), 6) AS cum_share
      FROM grp
      ORDER BY tokens DESC NULLS LAST, source NULLS FIRST, pred NULLS FIRST""",

    // q99: q91's edge CTE, two unrolled HITS iterations — each step is
    // raw sum → L1 normalize → left join back onto the node set with a
    // 0 for the unreachable side (mirrors the Spark coalesce)
    "q99_hits" -> """
      WITH ed AS (SELECT concat('site', CAST(doc_id % 7 AS VARCHAR)) AS src,
                         concat('site', CAST(doc_id % 5 AS VARCHAR)) AS dst
                  FROM documents),
      e AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
            FROM ed WHERE src <> dst GROUP BY src, dst),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      h0 AS (SELECT node, 1.0 / nn.n AS hub FROM nodes, nn),
      a1r AS (SELECT e.dst AS node, sum(e.w * h0.hub) AS raw
              FROM e JOIN h0 ON h0.node = e.src GROUP BY e.dst),
      a1 AS (SELECT nodes.node,
               coalesce(a1r.raw / (SELECT sum(raw) FROM a1r), 0) AS auth
             FROM nodes LEFT JOIN a1r ON a1r.node = nodes.node),
      h1r AS (SELECT e.src AS node, sum(e.w * a1.auth) AS raw
              FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
      h1 AS (SELECT nodes.node,
               coalesce(h1r.raw / (SELECT sum(raw) FROM h1r), 0) AS hub
             FROM nodes LEFT JOIN h1r ON h1r.node = nodes.node),
      a2r AS (SELECT e.dst AS node, sum(e.w * h1.hub) AS raw
              FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst),
      a2 AS (SELECT nodes.node,
               coalesce(a2r.raw / (SELECT sum(raw) FROM a2r), 0) AS auth
             FROM nodes LEFT JOIN a2r ON a2r.node = nodes.node),
      h2r AS (SELECT e.src AS node, sum(e.w * a2.auth) AS raw
              FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src),
      h2 AS (SELECT nodes.node,
               coalesce(h2r.raw / (SELECT sum(raw) FROM h2r), 0) AS hub
             FROM nodes LEFT JOIN h2r ON h2r.node = nodes.node)
      SELECT h2.node AS domain, round(h2.hub, 6) AS hub, round(a2.auth, 6) AS auth
      FROM h2 JOIN a2 ON a2.node = h2.node
      ORDER BY domain NULLS FIRST""",

    // q98: the corpus IS the LM — every token is in-vocabulary, no
    // smoothing; -ln applied per token BEFORE the doc mean in both engines
    "q98_unigram_surprisal" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT doc_id, unnest(s) AS w FROM doc),
      cnt AS (SELECT w, count(*) AS cw FROM tok GROUP BY w),
      nq AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM cnt),
      sc AS (SELECT t.doc_id, count(*) AS n_tok,
               avg(-ln(c.cw / (SELECT n FROM nq))) AS surprisal
             FROM tok t JOIN cnt c ON t.w = c.w GROUP BY t.doc_id)
      SELECT doc_id, n_tok, round(surprisal, 6) AS surprisal FROM sc
      WHERE doc_id % 10 = 7 ORDER BY doc_id NULLS FIRST""",

    // q97: ttr over the q82 normalization; threshold = quantile_cont
    // (same lower+(upper-lower)*frac interpolation as Spark's percentile,
    // frac exact in binary for q=0.75) compared against the raw score
    "q97_quantile_gate" -> """
      WITH scored AS (
        SELECT doc_id, source,
          len(list_distinct(s)) / CAST(len(s) AS DOUBLE) AS ttr
        FROM (SELECT doc_id, source,
            list_filter(string_split(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' '), x -> x <> '') AS s
          FROM documents)
        WHERE len(s) > 0),
      thr AS (SELECT quantile_cont(ttr, 0.75) AS t FROM scored)
      SELECT doc_id, source, round(ttr, 6) AS ttr FROM scored
      WHERE ttr >= (SELECT t FROM thr) AND doc_id % 10 = 3
      ORDER BY doc_id NULLS FIRST""",

    // q96: q74's shingle split with a LEFT join so clean docs keep a
    // 0-hit row; frac divides the two bigints (DuckDB / is float division,
    // mirroring Spark's double division)
    "q96_contamination_frac" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               concat(s[i], ' ', s[i+1], ' ', s[i+2], ' ', s[i+3], ' ', s[i+4]) AS w
             FROM doc, unnest(range(1, greatest(len(s) - 3, 1))) AS t(i)),
      ev AS (SELECT DISTINCT w FROM sh WHERE doc_id % 7 = 0),
      tr AS (SELECT doc_id, w FROM sh WHERE doc_id % 7 <> 0),
      agg AS (SELECT tr.doc_id, count(*) AS n_shingles, count(ev.w) AS n_shared
              FROM tr LEFT JOIN ev ON tr.w = ev.w
              GROUP BY tr.doc_id)
      SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
             CAST(n_shared AS BIGINT) AS n_shared,
             round(n_shared / n_shingles, 6) AS frac
      FROM agg WHERE doc_id % 10 = 1 ORDER BY doc_id NULLS FIRST""",

    // q95: q35's centroid/assignment chain, then per-cluster mean L2 to
    // own centroid + nearest-other-centroid distance; db_ratio divides
    // the UNROUNDED mean (both engines round only at the output)
    "q95_cluster_quality" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 8),
      assign AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c) t WHERE rn = 1),
      intra AS (SELECT a.cid, count(*) AS n, avg(list_distance(e.e, c.ce)) AS mean_d
                FROM e JOIN assign a ON a.vec_id = e.vec_id JOIN c ON c.cid = a.cid
                GROUP BY a.cid),
      nn AS (SELECT cid, nn_cid, d AS nn_d FROM (
          SELECT c1.cid, c2.cid AS nn_cid, list_distance(c1.ce, c2.ce) AS d,
            row_number() OVER (PARTITION BY c1.cid ORDER BY list_distance(c1.ce, c2.ce) NULLS LAST, c2.cid NULLS FIRST) AS rn
          FROM c c1 JOIN c c2 ON c1.cid <> c2.cid) t WHERE rn = 1)
      SELECT i.cid, i.n, round(i.mean_d, 6) AS mean_d, nn.nn_cid,
             round(nn.nn_d, 6) AS nn_d, round(i.mean_d / nn.nn_d, 6) AS db_ratio
      FROM intra i JOIN nn USING (cid) ORDER BY cid NULLS FIRST""",

    // q94: PMI — arithmetic association mirrors the Spark expression
    // exactly (a*nu*nu / (nb*c1*c2), left-assoc) so ln() sees the same
    // double; ordering on the rounded score (q42's ln+round precedent)
    "q94_pmi_collocations" -> """
      WITH doc AS (SELECT string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT unnest(s) AS w FROM doc),
      uni AS (SELECT w, count(*) AS cw FROM tok GROUP BY w),
      nuq AS (SELECT CAST(sum(cw) AS DOUBLE) AS nu FROM uni),
      bg AS (SELECT s[i] AS w1, s[i+1] AS w2
             FROM doc, unnest(range(1, greatest(len(s), 1))) AS t(i)),
      pair AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY w1, w2),
      nbq AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS nb FROM pair),
      scored AS (
        SELECT p.w1, p.w2, p.n_ab,
               round(ln(p.n_ab * (SELECT nu FROM nuq) * (SELECT nu FROM nuq)
                 / ((SELECT nb FROM nbq) * u1.cw * u2.cw)), 6) AS pmi
        FROM pair p JOIN uni u1 ON p.w1 = u1.w JOIN uni u2 ON p.w2 = u2.w
        WHERE p.n_ab >= 5)
      SELECT w1, w2, n_ab, pmi FROM scored
      ORDER BY pmi DESC NULLS LAST, w1 NULLS FIRST, w2 NULLS FIRST LIMIT 20""",

    // q92: Morton interleave as pure bit arithmetic (disjoint bit
    // positions, so + == |); binning floors on both sides
    "q92_zorder_key" -> """
      WITH s AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
          CAST(floor(l_quantity) AS BIGINT) AS xb,
          least(255, CAST(floor(l_extendedprice / 500.0) AS BIGINT)) AS yb
        FROM lineitem WHERE l_orderkey % 503 = 0)
      SELECT l_orderkey, l_linenumber,
        ((((xb >> 0) & 1) << 0) + (((yb >> 0) & 1) << 1)) + ((((xb >> 1) & 1) << 2) + (((yb >> 1) & 1) << 3)) + ((((xb >> 2) & 1) << 4) + (((yb >> 2) & 1) << 5)) + ((((xb >> 3) & 1) << 6) + (((yb >> 3) & 1) << 7)) + ((((xb >> 4) & 1) << 8) + (((yb >> 4) & 1) << 9)) + ((((xb >> 5) & 1) << 10) + (((yb >> 5) & 1) << 11)) + ((((xb >> 6) & 1) << 12) + (((yb >> 6) & 1) << 13)) + ((((xb >> 7) & 1) << 14) + (((yb >> 7) & 1) << 15)) AS z
      FROM s ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""",

    // q91: 3 unrolled damped-PageRank iterations as chained CTEs; the
    // teleport literal (1-0.85) casts to the same double both sides
    "q91_domain_pagerank" -> """
      WITH ed AS (SELECT concat('site', CAST(doc_id % 7 AS VARCHAR)) AS src,
                         concat('site', CAST(doc_id % 5 AS VARCHAR)) AS dst
                  FROM documents),
      e AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
            FROM ed WHERE src <> dst GROUP BY src, dst),
      outw AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
      p AS (SELECT e.src, e.dst, e.w / outw.ow AS p FROM e JOIN outw USING (src)),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes, nn),
      c1 AS (SELECT p.dst AS node, sum(p.p * r0.rank) AS inflow
             FROM p JOIN r0 ON r0.node = p.src GROUP BY p.dst),
      r1 AS (SELECT nodes.node, (1 - 0.85) / nn.n + 0.85 * coalesce(c1.inflow, 0) AS rank
             FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.node = nodes.node),
      c2 AS (SELECT p.dst AS node, sum(p.p * r1.rank) AS inflow
             FROM p JOIN r1 ON r1.node = p.src GROUP BY p.dst),
      r2 AS (SELECT nodes.node, (1 - 0.85) / nn.n + 0.85 * coalesce(c2.inflow, 0) AS rank
             FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.node = nodes.node),
      c3 AS (SELECT p.dst AS node, sum(p.p * r2.rank) AS inflow
             FROM p JOIN r2 ON r2.node = p.src GROUP BY p.dst),
      r3 AS (SELECT nodes.node, (1 - 0.85) / nn.n + 0.85 * coalesce(c3.inflow, 0) AS rank
             FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.node = nodes.node)
      SELECT node AS domain, round(rank, 6) AS rank FROM r3
      ORDER BY domain NULLS FIRST""",

    // q88: q86's positional-shingle run collapse as a self-join, da < db
    "q88_exact_substring_self" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      sh AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
               concat(s[i],' ',s[i+1],' ',s[i+2],' ',s[i+3],' ',s[i+4],' ',s[i+5],' ',s[i+6],' ',s[i+7]) AS w
             FROM doc, unnest(range(1, greatest(len(s) - 6, 1))) AS t(i)),
      m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
                   a.pos - b.pos AS diag
            FROM sh a JOIN sh b ON a.w = b.w AND a.doc_id < b.doc_id),
      i AS (SELECT *, pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS island FROM m)
      SELECT da, db, min(pa) AS pos_a, min(pb) AS pos_b,
             CAST(max(pa) - min(pa) + 8 AS BIGINT) AS run_len
      FROM i GROUP BY da, db, diag, island
      ORDER BY da NULLS FIRST, db NULLS FIRST,
               pos_a NULLS FIRST, pos_b NULLS FIRST""",

    // q145: q88 with the banner prefix and the df > 50 stop-shingle cap
    // rebuilt as an anti join — the oracle proves the DROP, not just
    // the surviving runs
    "q145_exact_substring_dfcap" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(concat(
               'please accept our cookie policy to continue reading this site today ',
               text)), ' ') AS s FROM documents),
      sh AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
               concat(s[i],' ',s[i+1],' ',s[i+2],' ',s[i+3],' ',s[i+4],' ',s[i+5],' ',s[i+6],' ',s[i+7]) AS w
             FROM doc, unnest(range(1, greatest(len(s) - 6, 1))) AS t(i)),
      hot AS (SELECT w FROM sh GROUP BY w HAVING count(DISTINCT doc_id) > 50),
      kept AS (SELECT sh.* FROM sh ANTI JOIN hot USING (w)),
      m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
                   a.pos - b.pos AS diag
            FROM kept a JOIN kept b ON a.w = b.w AND a.doc_id < b.doc_id),
      i AS (SELECT *, pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS island FROM m)
      SELECT da, db, min(pa) AS pos_a, min(pb) AS pos_b,
             CAST(max(pa) - min(pa) + 8 AS BIGINT) AS run_len
      FROM i GROUP BY da, db, diag, island
      ORDER BY da NULLS FIRST, db NULLS FIRST,
               pos_a NULLS FIRST, pos_b NULLS FIRST""",

    // q82: q74 with both sides normalized before shingling — DuckDB's
    // regexp_replace needs the 'g' flag to match Spark's replace-all
    "q82_decontaminate_norm" -> """
      WITH doc AS (SELECT doc_id,
          string_split(trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS s
        FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               concat(s[i], ' ', s[i+1], ' ', s[i+2], ' ', s[i+3], ' ', s[i+4]) AS w
             FROM doc, unnest(range(1, greatest(len(s) - 3, 1))) AS t(i)),
      ev AS (SELECT DISTINCT w FROM sh WHERE doc_id % 7 = 0),
      tr AS (SELECT doc_id, w FROM sh WHERE doc_id % 7 <> 0)
      SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM tr JOIN ev USING (w)
      GROUP BY tr.doc_id ORDER BY tr.doc_id NULLS FIRST""",

    // q75: the oracle runs the FULL-corpus q31 pipeline and keeps the
    // pairs with a new-batch (doc_id % 5 = 0) side — the composition law
    // (DedupSpec) makes that identical to the incremental computation
    "q75_incremental_dedup" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT DISTINCT doc_id, concat(s[i], ' ', s[i+1], ' ', s[i+2]) AS w
              FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      sig AS (SELECT doc_id,
          min(md5(concat('0|', w))) AS h0, min(md5(concat('1|', w))) AS h1,
          min(md5(concat('2|', w))) AS h2, min(md5(concat('3|', w))) AS h3,
          min(md5(concat('4|', w))) AS h4, min(md5(concat('5|', w))) AS h5,
          min(md5(concat('6|', w))) AS h6, min(md5(concat('7|', w))) AS h7
        FROM tok GROUP BY doc_id),
      band AS (
        SELECT doc_id, 0 AS bi, md5(concat(h0, h1, h2, h3)) AS bk FROM sig
        UNION ALL
        SELECT doc_id, 1 AS bi, md5(concat(h4, h5, h6, h7)) AS bk FROM sig),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM band a JOIN band b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
      est AS (SELECT da, db,
          ((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT +
           (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT) / 8.0 AS est
        FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db)
      SELECT da, db, round(est, 6) AS est FROM est
      WHERE est >= 0.5 AND (da % 5 = 0 OR db % 5 = 0)
      ORDER BY da NULLS FIRST, db NULLS FIRST""",

    // q76: the decode is real (javax.imageio GIF sequence frames); the
    // INPUT GIFs are synthesized under the closed-form contract on
    // synthGifBytes, so the oracle re-derives every frame's values from
    // doc_id without decoding anything (the multi-frame twin of q40/q73)
    "q76_gif_frames" -> """
      WITH f AS (SELECT doc_id,
                        CAST(8 + doc_id % 16 AS INTEGER) AS width,
                        CAST(8 + doc_id % 12 AS INTEGER) AS height,
                        2 + doc_id % 4 AS nf
                 FROM documents),
      fr AS (SELECT doc_id, CAST(k AS INTEGER) AS frame, width, height,
                    (doc_id + 17*k) % 256 AS r,
                    (doc_id*7 + 29*k) % 256 AS g,
                    (doc_id*13 + 31*k) % 256 AS b
             FROM f, unnest(range(0, nf)) AS t(k))
      SELECT doc_id, frame, width, height,
             CAST(width*height*r AS BIGINT) AS sum_r,
             CAST(width*height*g AS BIGINT) AS sum_g,
             CAST(width*height*b AS BIGINT) AS sum_b
      FROM fr ORDER BY doc_id NULLS FIRST, frame NULLS FIRST""",

    // q78: integer-exact cutoff reproduction — the keep decision is
    // md5-bucket(doc_id) < least(65536, w*B*65536 // (1000*tot)), all
    // integer arithmetic, so the oracle keeps EXACTLY the same rows
    "q78_mixture_sample" -> """
      WITH d AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS tok FROM documents),
      tot AS (SELECT lang, sum(tok) AS tot FROM d GROUP BY lang),
      w AS (SELECT * FROM (VALUES ('en', 400), ('de', 200), ('fr', 200),
                                  ('es', 150), ('zh', 50)) AS t(lang, w)),
      cuts AS (SELECT tot.lang,
                      least(65536, (w.w::HUGEINT * 6000 * 65536) // (1000 * tot.tot)) AS cut
               FROM tot JOIN w ON tot.lang = w.lang WHERE tot.tot > 0),
      k AS (SELECT d.lang, d.tok FROM d JOIN cuts ON d.lang = cuts.lang
            WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < cut)
      SELECT lang, count(*) AS n, CAST(sum(tok) AS BIGINT) AS tok
      FROM k GROUP BY lang ORDER BY lang NULLS FIRST""",

    // q79: bigrams WITH duplicates (i = 1..len-1), count vs count
    // distinct per doc — the in-row array_distinct stated relationally
    "q79_repetition" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      g AS (SELECT doc_id, concat(s[i], ' ', s[i+1]) AS w
            FROM doc, unnest(range(1, greatest(len(s), 1))) AS t(i)),
      a AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT w) AS n_distinct
            FROM g GROUP BY doc_id)
      SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
             CAST(n_distinct AS BIGINT) AS n_distinct,
             round(1.0 - n_distinct / CAST(n_grams AS DOUBLE), 6) AS rep_ratio
      FROM a WHERE n_grams > 0 AND n_distinct < n_grams
      ORDER BY doc_id NULLS FIRST""",

    "q58_unpivot" -> """
      WITH wide AS (SELECT l_returnflag,
          round(CAST(sum(CAST(round(l_quantity * 100.0) AS BIGINT)) AS DOUBLE)
                / 100.0, 2) AS qty,
          round(CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE)
                / 100.0, 2) AS price,
          round(CAST(sum(CAST(round(l_discount * 100.0) AS BIGINT)) AS DOUBLE)
                / 100.0, 2) AS disc
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, measure, value FROM (
        SELECT l_returnflag, 'qty' AS measure, qty AS value FROM wide
        UNION ALL SELECT l_returnflag, 'price', price FROM wide
        UNION ALL SELECT l_returnflag, 'disc', disc FROM wide) u
      ORDER BY l_returnflag NULLS FIRST, measure NULLS FIRST""",

    "q59_forward_fill" -> """
      SELECT event_id, user_id, round(ff0, 2) AS ff,
             CAST(v IS NULL AS INT) AS was_null FROM (
        SELECT event_id, user_id, v,
               last_value(v IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff0
        FROM (SELECT event_id, user_id, ts,
                CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
              FROM events) base) t
      WHERE event_id % 100 = 0 ORDER BY event_id NULLS FIRST""",

    "q60_range_frame" -> """
      SELECT event_id, user_id, n, s FROM (
        SELECT event_id, user_id,
               count(*) OVER w AS n,
               round(sum(value) OVER w, 2) AS s
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)) t
      WHERE event_id % 100 = 0 ORDER BY event_id NULLS FIRST""",

    "q61_array_setops" -> """
      WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tkn
                  FROM documents WHERE doc_id % 25 = 0)
      SELECT doc_id,
        CAST(count(DISTINCT CASE WHEN tkn IN ('the','a','of','and','to') THEN tkn END) AS BIGINT) AS nstop,
        CAST(count(DISTINCT CASE WHEN tkn NOT IN ('the','a','of','and','to') THEN tkn END) AS BIGINT) AS nuniq,
        CAST(count(DISTINCT tkn) AS BIGINT) AS ndist
      FROM tk GROUP BY doc_id ORDER BY doc_id NULLS FIRST""",

    "q62_text_clean" -> """
      WITH raw AS (SELECT doc_id,
          concat('<p id="', CAST(doc_id AS VARCHAR), '">', text,
                 '</p> <a href="http://x.example">link</a> contact user',
                 CAST(doc_id AS VARCHAR), '@mail.example.com or 555-',
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS r
        FROM documents WHERE doc_id % 25 = 0),
      c1 AS (SELECT doc_id,
          trim(regexp_replace(regexp_replace(r, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS s
        FROM raw),
      c2 AS (SELECT doc_id,
          regexp_replace(
            regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\b\d{3}[-.]\d{4}\b', '[PHONE]', 'g') AS s
        FROM c1)
      SELECT doc_id, md5(s) AS h, CAST(length(s) AS BIGINT) AS len
      FROM c2 ORDER BY doc_id NULLS FIRST""",

    "q63_grouping_sets" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             count(*) AS n, round(sum(l_quantity), 2) AS qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gid NULLS FIRST""",

    "q64_scalar_subquery" -> """
      SELECT c_mktsegment, n, round(am0, 2) AS am FROM (
        SELECT c_mktsegment, count(*) AS n, avg(mx) AS am0 FROM (
          SELECT c_mktsegment,
                 (SELECT max(o_totalprice) FROM orders o
                  WHERE o.o_custkey = c.c_custkey) AS mx
          FROM customer c) t
        WHERE mx > 400000 GROUP BY c_mktsegment) g
      ORDER BY c_mktsegment NULLS FIRST""",

    "q65_gap_fill" -> """
      WITH hourly AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n,
                             round(sum(value), 2) AS s
                      FROM events WHERE event_type = 'error' GROUP BY 1),
      grid AS (SELECT unnest(generate_series(
                 (SELECT min(date_trunc('hour', ts)) FROM events),
                 (SELECT max(date_trunc('hour', ts)) FROM events),
                 INTERVAL 1 HOUR)) AS h)
      SELECT g.h AS h, coalesce(n, 0) AS n, coalesce(s, 0.0) AS s
      FROM grid g LEFT JOIN hourly ON g.h = hourly.h
      ORDER BY h""",

    "q66_bigrams" -> """
      WITH doc AS (SELECT string_split(lower(text), ' ') AS s FROM documents),
      bg AS (SELECT concat(s[i], ' ', s[i+1]) AS bg
             FROM doc, unnest(range(1, greatest(len(s), 1))) AS t(i))
      SELECT bg, count(*) AS n FROM bg GROUP BY bg
      ORDER BY n DESC, bg LIMIT 20""",

    "q67_keep_latest" -> """
      SELECT user_id, event_id AS last_event, ts AS last_ts, event_type AS last_type FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) AS rn
        FROM events) t
      WHERE rn = 1 ORDER BY user_id NULLS FIRST""",

    "q68_url_extract" -> """
      WITH raw AS (SELECT concat(text,
          ' see http://site', CAST(doc_id % 7 AS VARCHAR),
          '.example/page', CAST(doc_id AS VARCHAR),
          ' and https://www.ref.example/x', CAST(doc_id % 3 AS VARCHAR)) AS r
        FROM documents),
      u AS (SELECT unnest(regexp_extract_all(r, 'https?://[^ ]+')) AS url FROM raw)
      SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS domain, count(*) AS n
      FROM u GROUP BY domain ORDER BY domain NULLS FIRST""",

    "q69_not_in_null" -> """
      SELECT
        CAST((SELECT count(*) FROM customer WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)) AS BIGINT) AS n_clean,
        CAST((SELECT count(*) FROM customer WHERE c_custkey NOT IN
           (SELECT CASE WHEN o_custkey % 10 = 0 THEN NULL ELSE o_custkey END
            FROM orders WHERE o_totalprice > 450000)) AS BIGINT) AS n_nullpoisoned""",

    "q70_full_outer" -> """
      WITH om AS (SELECT date_trunc('month', o_orderdate) AS m, count(*) AS no
                  FROM orders GROUP BY 1),
      lm AS (SELECT date_trunc('month', l_shipdate) AS m, count(*) AS nl
             FROM lineitem GROUP BY 1)
      SELECT coalesce(om.m, lm.m) AS m,
             coalesce(no, 0) AS no, coalesce(nl, 0) AS nl
      FROM om FULL JOIN lm ON om.m = lm.m
      ORDER BY m NULLS FIRST""",

    "q71_lateral_topk" -> """
      SELECT r_name, n_name, round(bal0, 2) AS bal FROM (
        SELECT r_name, n_name, bal0 FROM region r,
        LATERAL (SELECT n_name, sum(s_acctbal) AS bal0
                 FROM nation n JOIN supplier s ON s_nationkey = n_nationkey
                 WHERE n_regionkey = r.r_regionkey
                 GROUP BY n_name ORDER BY bal0 DESC, n_name LIMIT 2) t) x
      ORDER BY r_name NULLS FIRST, bal DESC NULLS LAST, n_name NULLS FIRST""",

    // q134: 2-word line derivation (q120's width), per-source document
    // frequency, lines at df >= 4 removed EVERYWHERE (NOT EXISTS — the
    // anti join), reassembly + id spine exactly like the q122 oracle
    "q134_boilerplate_lines" -> """
      WITH d0 AS (SELECT doc_id, source, string_split(text, ' ') AS s0 FROM documents),
      ln0 AS (SELECT doc_id, source, CAST(i AS BIGINT) AS pos,
              array_to_string(s0[i*2+1:i*2+2], ' ') AS line
              FROM d0, unnest(range(0, CAST(ceil(len(s0)/2.0) AS INT))) u(i)),
      ln AS (SELECT * FROM ln0 WHERE line <> ''),
      boiler AS (SELECT source, line FROM ln
                 GROUP BY source, line HAVING count(DISTINCT doc_id) >= 4),
      kept AS (SELECT * FROM ln WHERE NOT EXISTS (
                 SELECT 1 FROM boiler b
                 WHERE b.source = ln.source AND b.line = ln.line)),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
              md5(string_agg(line, chr(10) ORDER BY pos)) AS h
              FROM kept GROUP BY doc_id),
      na AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
             FROM ln GROUP BY doc_id)
      SELECT d.doc_id, coalesce(na.n_lines, 0) AS n_lines,
             coalesce(a.n_kept, 0) AS n_kept, coalesce(a.h, md5('')) AS h
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN na USING (doc_id) LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id NULLS FIRST""",

    // q135: the unrolled-trajectory training oracle — see logisticOracle
    "q135_classifier_train" -> logisticOracle(4),

    // q138: the same chain scoring the whole corpus + per-threshold
    // conditional sums — see prCurveOracle
    "q138_pr_curve" -> prCurveOracle(4),

    // q136: counts, 1-row stats, rank by (cnt DESC, key); every ratio is
    // IEEE division of exact integers — identical doubles, unrounded
    "q136_skew_audit" -> """
      WITH c AS (SELECT coalesce(CAST(lang AS VARCHAR), 'NULL') AS key,
                        CAST(count(*) AS BIGINT) AS cnt
                 FROM documents GROUP BY 1),
      s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(cnt) AS BIGINT) AS n_rows,
                   CAST(max(cnt) AS BIGINT) AS mx FROM c),
      t AS (SELECT key, cnt,
              CAST(row_number() OVER (ORDER BY cnt DESC, key) AS BIGINT) AS rank
            FROM c)
      SELECT rank, key, cnt,
        CAST(cnt AS DOUBLE) / n_rows AS share,
        CAST(cnt AS DOUBLE) * n_keys / n_rows AS ratio_to_mean,
        n_keys, n_rows,
        CAST(mx AS DOUBLE) * n_keys / n_rows AS max_ratio
      FROM t, s WHERE rank <= 5 ORDER BY rank""",

    // q137: q117's LM-score chain + per-lang quantile_cont terciles on
    // the 6-decimal-snapped scores (Spark `percentile` and DuckDB
    // `quantile_cont` interpolate identically — the q45 identity); the
    // fraction literals are CAST(k AS DOUBLE)/3 so both engines bucket
    // against the same IEEE double
    "q137_ccnet_buckets" -> """
      WITH d AS (SELECT doc_id, lang, lang = 'en' AS tgt,
                        string_split(lower(text), ' ') AS s FROM documents),
      g AS (SELECT doc_id, tgt, s[i] AS w1, concat(s[i], ' ', s[i+1]) AS gram
            FROM d, unnest(range(1, greatest(len(s), 1))) AS t(i)),
      c2 AS (SELECT gram, CAST(count(*) AS BIGINT) AS c2 FROM g WHERE tgt GROUP BY gram),
      c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM g WHERE tgt GROUP BY w1),
      v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
            FROM (SELECT unnest(s) AS w FROM d WHERE tgt)),
      sc AS (SELECT g.doc_id,
               avg(-ln((coalesce(c2.c2, 0) + 1) / (coalesce(c1.c1, 0) + v.v))) AS ce
             FROM g
             LEFT JOIN c2 ON g.gram = c2.gram
             LEFT JOIN c1 ON g.w1 = c1.w1
             CROSS JOIN v
             GROUP BY g.doc_id),
      sl AS (SELECT sc.doc_id, d2.lang, round(sc.ce, 6) AS ce6
             FROM sc JOIN (SELECT doc_id, lang FROM documents) d2 USING (doc_id)),
      th AS (SELECT lang,
               quantile_cont(ce6, CAST(1 AS DOUBLE)/3) AS t1,
               quantile_cont(ce6, CAST(2 AS DOUBLE)/3) AS t2
             FROM sl GROUP BY lang)
      SELECT sl.doc_id, sl.lang, sl.ce6,
        CASE WHEN ce6 <= t1 THEN 'head'
             WHEN ce6 <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
        ce6 <= t2 AS keep
      FROM sl JOIN th USING (lang) WHERE sl.doc_id % 10 = 6
      ORDER BY sl.doc_id NULLS FIRST""",

    // q139: width 2048 >> vocab, so every estimate degenerates to the
    // exact per-source count — the oracle is plain counting over the
    // probe list (a VALUES spine so absent tokens report 0), blind to
    // the hash functions by design
    "q139_cms_counts" -> s"""
      WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS w
                   FROM documents),
      c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
            FROM tok WHERE w <> '' GROUP BY source, w),
      probes(token) AS (VALUES ${cmsProbes.map(p => s"('$p')").mkString(", ")}),
      spine AS (SELECT DISTINCT source FROM documents)
      SELECT s.source, p.token, coalesce(c.c, 0) AS est
      FROM spine s CROSS JOIN probes p
      LEFT JOIN c ON c.source = s.source AND c.w = p.token
      ORDER BY s.source NULLS FIRST, p.token""",

    // q140: tf/df/N re-derived, the q116 md5-bucket idiom, per-(doc,
    // bucket) weight sums, invariants aggregated straight off the bucket
    // weights (absent buckets are 0.0 and contribute nothing — identical
    // to the operator's dense-array fold)
    "q140_hashed_tfidf" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                   FROM documents),
      tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
             FROM tok GROUP BY doc_id, w),
      dfq AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              FROM tok GROUP BY w),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      bw AS (SELECT doc_id,
               CAST(concat('0x', substr(md5(tf.w), 1, 4)) AS BIGINT) % 64 AS b,
               sum(tf * ln(nd / df)) AS bw
             FROM tf JOIN dfq USING (w) CROSS JOIN nd
             GROUP BY doc_id, b)
      SELECT doc_id,
        CAST(count(*) FILTER (WHERE bw <> 0.0) AS BIGINT) AS nnz,
        round(sqrt(sum(bw * bw)), 6) AS norm6,
        round(sum(bw), 6) AS vsum6
      FROM bw WHERE doc_id % 10 = 2 GROUP BY doc_id
      ORDER BY doc_id NULLS FIRST""",

    // q141: the weight-table training chain — see hashedLogisticOracle
    "q141_hashed_classifier" -> hashedLogisticOracle(32, 3),
    // q147: five unrolled one-vs-rest chains + the replayed argmax
    "q147_trained_langid" -> langidOracle(32, 2,
      Seq("de", "en", "es", "fr", "zh")),

    // q143: the q135 training chain scoring the whole corpus, binned at
    // floor(p6·100) (identical IEEE ops on the identical grid double)
    "q143_calibration" -> s"""
      WITH ${logisticCtes(4)},
      sc AS (SELECT y, round(1.0 / (1.0 + exp(-$logisticZ)), 6) AS p6
             FROM f, w4),
      b AS (SELECT CAST(least(floor(p6 * 100.0), 99.0) AS BIGINT) AS bin, y, p6 FROM sc)
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
        round(avg(p6), 6) AS mean_p6,
        CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS frac_pos
      FROM b GROUP BY bin ORDER BY bin""",

    // q154: the same chain scoring the whole corpus, then the exact
    // integer Mann–Whitney sweep — (np, nn) per distinct score, strict
    // cumulative negatives, num2 = Σ np·(2·cnb + nn) in BIGINT; the
    // closing division is the only float op (q136's unrounded-ratio
    // argument)
    "q154_roc_auc" -> s"""
      WITH ${logisticCtes(4)},
      sc AS (SELECT y, round(1.0 / (1.0 + exp(-$logisticZ)), 6) AS p6
             FROM f, w4),
      g AS (SELECT p6,
              CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS np,
              CAST(sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS nn
            FROM sc GROUP BY p6),
      cum AS (SELECT np, nn,
              coalesce(CAST(sum(nn) OVER (ORDER BY p6
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                CAST(0 AS BIGINT)) AS cnb
              FROM g)
      SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        CAST(sum(nn) AS BIGINT) AS n_neg,
        CAST(sum(np * (2 * cnb + nn)) AS BIGINT) AS num2,
        CASE WHEN sum(np) > 0 AND sum(nn) > 0
          THEN CAST(sum(np * (2 * cnb + nn)) AS BIGINT) /
               (2.0 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)) END AS auc
      FROM cum""",

    // q157: the four IGNORE-NULLS window reads + the identical lerp on
    // the epoch-seconds axis (CAST(floor(epoch)) = Spark's long cast)
    "q157_interpolate_linear" -> """
      WITH e AS (SELECT event_id, user_id,
              CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
              CASE WHEN event_id % 5 = 2 THEN NULL ELSE value END AS v
             FROM events),
      i AS (SELECT event_id, user_id, tsec, v,
             last_value(v IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN tsec END IGNORE NULLS) OVER wb AS pt,
             first_value(v IGNORE NULLS) OVER wa AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN tsec END IGNORE NULLS) OVER wa AS nt
            FROM e
            WINDOW wb AS (PARTITION BY user_id ORDER BY tsec, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wa AS (PARTITION BY user_id ORDER BY tsec, event_id
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT event_id, user_id,
        CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS was_gap,
        round(CASE WHEN v IS NOT NULL THEN v
              WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
                THEN pv + (nv - pv) * (CAST(tsec - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
              WHEN pv IS NOT NULL THEN pv ELSE nv END, 6) AS vi
      FROM i WHERE event_id % 100 = 0 ORDER BY event_id NULLS FIRST""",

    // q158: the Hilbert transform as layered CTEs — see hilbertOracle
    "q158_hilbert_key" -> hilbertOracle(8),

    // q171: the CUSUM closed form — per-element term written EXACTLY as
    // the Spark side computes it ((value − target) − slack, one
    // subtraction at a time) so the sequential running sums are
    // bit-identical before the 6-decimal rounding
    "q171_cusum" -> """
      WITH p AS (SELECT user_id, ts, event_id,
              sum((value - 50.0) - 5.0) OVER w AS p
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      s AS (SELECT user_id, ts,
              p - least(0.0, min(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
            FROM p)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n, round(max(s), 6) AS max_s6,
        CAST(coalesce(sum(CASE WHEN s > 100.0 THEN 1 END), 0) AS BIGINT) AS n_alarms,
        min(CASE WHEN s > 100.0 THEN ts END) AS first_alarm_ts
      FROM s GROUP BY user_id ORDER BY user_id""",

    // q172: sign bits packed MSB-first into two 32-bit words (the shift
    // sum is the Horner fold's closed form; 32-bit words keep every
    // value positive-exact in a BIGINT — the q156 lesson), Hamming =
    // bit_count(xor) summed over words, 12-candidate cut on (ham, vid),
    // exact cosine re-rank
    "q172_binary_hamming" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      bits AS (SELECT vec_id, (i // 32) AS j,
                sum(CASE WHEN e[i + 1] > 0 THEN (CAST(1 AS BIGINT) << (31 - (i % 32)))
                    ELSE 0 END) AS w
               FROM e, unnest(range(0, 64)) t(i) GROUP BY 1, 2),
      ham AS (SELECT qb.vec_id AS qid, cb.vec_id AS vid,
                CAST(sum(bit_count(xor(qb.w, cb.w))) AS BIGINT) AS ham
              FROM bits qb JOIN bits cb ON cb.j = qb.j AND cb.vec_id <> qb.vec_id
              WHERE qb.vec_id >= 100 AND qb.vec_id < 105
              GROUP BY 1, 2),
      cand AS (SELECT qid, vid, ham FROM (
                SELECT qid, vid, ham,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY ham NULLS LAST, vid NULLS FIRST) AS hrn
                FROM ham) t WHERE hrn <= 12),
      q AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id >= 100 AND vec_id < 105)
      SELECT qid, vid AS vec_id, ham, round(sim, 6) AS sim, CAST(rn AS BIGINT) AS rn
      FROM (
        SELECT c.qid, c.vid, c.ham, list_cosine_similarity(q.qe, e.e) AS sim,
          row_number() OVER (PARTITION BY c.qid
            ORDER BY list_cosine_similarity(q.qe, e.e) DESC NULLS LAST,
                     c.vid NULLS FIRST) AS rn
        FROM cand c JOIN q ON q.qid = c.qid JOIN e ON e.vec_id = c.vid) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q173: the S-curve 1-(1-s^r)^b integrated by the same 200-point
    // midpoint rule, ORDER-EXACT: terms snapped to a 1e-12 integer grid
    // and summed as exact integers (mirrors Dedup.lshTuning op-for-op);
    // chosen = argmin(err) with (fn, r DESC) tie-break
    "q173_lsh_tuning" -> """
      WITH f AS (SELECT CAST(24 // r AS BIGINT) AS b, CAST(r AS BIGINT) AS r
                 FROM (SELECT unnest(range(1, 25)) AS r) t WHERE 24 % r = 0),
      g AS (SELECT (i + 0.5) / 200.0 AS s FROM (SELECT unnest(range(0, 200)) AS i) t),
      c AS (SELECT b, r, s, 1.0 - pow(1.0 - pow(s, r), b) AS p FROM f, g),
      a AS (SELECT b, r,
              CAST(sum(CAST(round((CASE WHEN s < 0.7 THEN p ELSE 0.0 END)
                  * 1000000000000.0) AS BIGINT)) AS DOUBLE)
                / 200000000000000.0 AS fp,
              CAST(sum(CAST(round((CASE WHEN s >= 0.7 THEN 1.0 - p ELSE 0.0 END)
                  * 1000000000000.0) AS BIGINT)) AS DOUBLE)
                / 200000000000000.0 AS fn
            FROM c GROUP BY 1, 2)
      SELECT b, r, round(fp, 6) AS fp_area, round(fn, 6) AS fn_area,
        round(fp + fn, 6) AS err, round(pow(1.0 / b, 1.0 / r), 6) AS s50,
        (row_number() OVER (ORDER BY round(fp + fn, 6) NULLS LAST,
                                     round(fn, 6) NULLS LAST, r DESC) = 1) AS chosen
      FROM a ORDER BY b NULLS FIRST, r NULLS FIRST""",

    // q174: HRW argmax re-derived per (doc, shard-count) as the max
    // md5(seed|key|shard) (shard DESC breaks the theoretical digest tie,
    // matching the struct-max's (h, s) order); census per old shard
    "q174_rendezvous_shards" -> """
      WITH d AS (SELECT doc_id FROM documents),
      s8 AS (SELECT doc_id, s FROM (
              SELECT d.doc_id, t.s,
                row_number() OVER (PARTITION BY d.doc_id
                  ORDER BY md5(concat('rdv|', CAST(d.doc_id AS VARCHAR), '|',
                                      CAST(t.s AS VARCHAR))) DESC, t.s DESC) AS rn
              FROM d, (SELECT unnest(range(0, 8)) AS s) t) x WHERE rn = 1),
      s9 AS (SELECT doc_id, s FROM (
              SELECT d.doc_id, t.s,
                row_number() OVER (PARTITION BY d.doc_id
                  ORDER BY md5(concat('rdv|', CAST(d.doc_id AS VARCHAR), '|',
                                      CAST(t.s AS VARCHAR))) DESC, t.s DESC) AS rn
              FROM d, (SELECT unnest(range(0, 9)) AS s) t) x WHERE rn = 1)
      SELECT s8.s AS s8, CAST(count(*) AS BIGINT) AS n,
        CAST(coalesce(sum(CASE WHEN s9.s <> s8.s THEN 1 END), 0) AS BIGINT) AS n_moved,
        CAST(coalesce(sum(CASE WHEN s9.s <> s8.s AND s9.s = 8 THEN 1 END), 0) AS BIGINT) AS n_to_new,
        round(coalesce(sum(CASE WHEN s9.s <> s8.s THEN 1 END), 0) / count(*), 6) AS moved_frac
      FROM s8 JOIN s9 USING (doc_id) GROUP BY 1 ORDER BY 1""",

    // q175: per-source KS vs rest — group×value CDF grid (every jump
    // point of either CDF), exact rational cumulative counts, sup of
    // |F_g - F_rest|, then the sqrt(n·m/(n+m)) scaling
    "q175_ks_drift" -> """
      WITH b AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
                 FROM documents WHERE n_chars IS NOT NULL),
      c AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
      gs AS (SELECT DISTINCT g FROM b),
      vs AS (SELECT DISTINCT v FROM b),
      ns AS (SELECT g, count(*) AS n FROM b GROUP BY 1),
      na AS (SELECT count(*) AS n_all FROM b),
      tot AS (SELECT v, sum(ct) OVER (ORDER BY v) AS cum_t FROM (
               SELECT v, count(*) AS ct FROM b GROUP BY 1) t),
      grid AS (SELECT gs.g, vs.v, coalesce(c.c, 0) AS c
               FROM gs CROSS JOIN vs
               LEFT JOIN c ON c.g = gs.g AND c.v = vs.v),
      cum AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum_g FROM grid),
      dd AS (SELECT cum.g, ns.n, na.n_all - ns.n AS n_rest,
              max(abs(CAST(cum.cum_g AS DOUBLE) / ns.n -
                      CAST(tot.cum_t - cum.cum_g AS DOUBLE) / (na.n_all - ns.n))) AS d
             FROM cum JOIN tot USING (v) JOIN ns ON ns.g = cum.g CROSS JOIN na
             GROUP BY 1, 2, 3)
      SELECT g AS source, CAST(n AS BIGINT) AS n, CAST(n_rest AS BIGINT) AS n_rest,
        round(d, 6) AS d,
        round(d * sqrt(CAST(n AS DOUBLE) * n_rest / (n + n_rest)), 6) AS ks
      FROM dd ORDER BY source NULLS FIRST""",

    // q176: every sample re-derived from the synthWavBytes closed form
    // (no codec in the oracle — the q73 discipline); crossings by the
    // strict lag-product rule, energy as the exact integer square sum
    "q176_audio_features" -> """
      WITH n AS (SELECT doc_id, 100 + doc_id % 400 AS ns FROM documents
                 WHERE doc_id % 10 = 3),
      s AS (SELECT doc_id, i, ((doc_id*31 + i*17) % 2001) - 1000 AS v
            FROM n, unnest(range(0, ns)) AS t(i)),
      x AS (SELECT doc_id, v,
              lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
            FROM s)
      SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_samples,
        CAST(sum(v*v) AS BIGINT) AS sumsq,
        CAST(coalesce(sum(CASE WHEN pv * v < 0 THEN 1 END), 0) AS BIGINT) AS n_cross,
        CAST(max(abs(v)) AS INTEGER) AS peak,
        round(sqrt(sum(v*v) / count(*)), 6) AS rms,
        round(coalesce(sum(CASE WHEN pv * v < 0 THEN 1 END), 0) / (count(*) - 1), 6) AS zcr
      FROM x GROUP BY doc_id ORDER BY doc_id NULLS FIRST""",

    // q177: q161's BM25 chain at k=10, the cosine top-10 over the same
    // qids' embeddings, then RRF = sum(1/(60+rn)) with the (rrf DESC,
    // id) tie-break — both input rankings' tie-breaks pinned transitively
    "q177_hybrid_rrf" -> """
      WITH tok AS (SELECT doc_id, w AS term FROM (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t
            WHERE w <> ''),
      q AS (SELECT * FROM (VALUES (0, 'scan'), (0, 'merge'), (1, 'vector'),
              (1, 'window'), (1, 'slow'), (2, 'the'), (2, 'data')) AS v(qid, term)),
      dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
      st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      wt AS (SELECT tf.term, tf.doc_id,
               ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
                 tf.tf * 2.2 /
                 (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS wt
             FROM tf JOIN df ON df.term = tf.term
             JOIN dl ON dl.doc_id = tf.doc_id, st),
      s AS (SELECT q.qid, wt.doc_id, round(sum(wt.wt), 6) AS score6
            FROM q JOIN wt ON wt.term = q.term GROUP BY q.qid, wt.doc_id),
      bm AS (SELECT CAST(qid AS BIGINT) AS qid, doc_id AS id, rn FROM (
              SELECT qid, doc_id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY score6 DESC NULLS LAST, doc_id NULLS FIRST) AS rn
              FROM s) t WHERE rn <= 10),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      eq AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id < 3),
      cos AS (SELECT qid, vec_id AS id, rn FROM (
              SELECT eq.qid, e.vec_id,
                row_number() OVER (PARTITION BY eq.qid
                  ORDER BY list_cosine_similarity(eq.qe, e.e) DESC NULLS LAST,
                           e.vec_id NULLS FIRST) AS rn
              FROM eq JOIN e ON e.vec_id <> eq.qid) t WHERE rn <= 10),
      u AS (SELECT qid, id, rn FROM bm UNION ALL SELECT qid, id, rn FROM cos),
      fused AS (SELECT qid, id, sum(1.0 / (60.0 + rn)) AS rrf,
                 CAST(count(*) AS BIGINT) AS n_lists
                FROM u GROUP BY qid, id)
      SELECT qid, id, round(rrf, 6) AS rrf, n_lists, CAST(rn AS BIGINT) AS rn FROM (
        SELECT qid, id, rrf, n_lists,
          row_number() OVER (PARTITION BY qid
            ORDER BY rrf DESC NULLS LAST, id NULLS FIRST) AS rn
        FROM fused) t
      WHERE rn <= 5 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q178: the q135 training chain + the binned (n, pos) grid, then the
    // isotonic fit through the MINIMAX characterization f(k) =
    // max_{i<=k} min_{j>=k} avg(i..j) over prefix sums — an independent
    // algorithm from the Spark side's PAV stack, meeting at the same
    // exact pooled rationals (<= 100 bins -> the triple join is tiny)
    "q178_isotonic_calibration" -> s"""
      WITH ${logisticCtes(4)},
      sc AS (SELECT y, round(1.0 / (1.0 + exp(-$logisticZ)), 6) AS p6
             FROM f, w4),
      bb AS (SELECT CAST(least(floor(p6 * 100.0), 99.0) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
             FROM sc GROUP BY 1),
      cum AS (SELECT bin, n, pos,
               row_number() OVER (ORDER BY bin) AS k,
               sum(n) OVER (ORDER BY bin) AS cn,
               sum(pos) OVER (ORDER BY bin) AS cp
              FROM bb),
      pairs AS (SELECT i.k AS ik, j.k AS jk,
                 CAST(j.cp - coalesce(ip.cp, 0) AS DOUBLE) /
                   (j.cn - coalesce(ip.cn, 0)) AS a
                FROM cum i JOIN cum j ON j.k >= i.k
                LEFT JOIN cum ip ON ip.k = i.k - 1),
      innermin AS (SELECT c.k, p.ik, min(p.a) AS mn
                   FROM cum c JOIN pairs p ON p.ik <= c.k AND p.jk >= c.k
                   GROUP BY c.k, p.ik),
      fit AS (SELECT k, max(mn) AS fitted FROM innermin GROUP BY k)
      SELECT cum.bin, cum.n, cum.pos, round(fit.fitted, 6) AS fitted
      FROM cum JOIN fit USING (k)
      ORDER BY cum.bin NULLS FIRST""",

    // q179: the five moments as exact BIGINT sums, then the closed-form
    // slope/intercept/r2 as the same fixed dag of double ops over the
    // same exact integers (nullif guards the degenerate constant-x case)
    "q179_grouped_ols" -> """
      WITH b AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS x,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS y
                 FROM documents
                 WHERE n_chars IS NOT NULL AND text IS NOT NULL),
      a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
              sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
              sum(x*x) AS sxx, sum(y*y) AS syy
            FROM b GROUP BY g),
      f AS (SELECT g, n, sx, sy,
              CAST(n*sxy - sx*sy AS DOUBLE) /
                CAST(nullif(n*sxx - sx*sx, 0) AS DOUBLE) AS slope,
              (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)) /
                nullif(CAST(n*sxx - sx*sx AS DOUBLE) *
                       CAST(n*syy - sy*sy AS DOUBLE), 0.0) AS r2
            FROM a)
      SELECT g AS source, n, round(slope, 6) AS slope,
        round((sy - slope * sx) / n, 6) AS intercept,
        round(r2, 6) AS r2
      FROM f ORDER BY source NULLS FIRST""",

    // q180: every pixel re-derived from the synthTexturedBytes closed
    // form (the q156 pixel CTE), binned v // 16, a 16-bin grid so empty
    // bins report 0 in the joined string; entropy over nonzero bins
    "q180_image_histogram" -> """
      WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 6),
      pix AS (SELECT d.doc_id, xx.x, yy.y,
               CASE WHEN ((d.doc_id % 40) // 10) > 0
                     AND xx.x = 2 * ((d.doc_id % 40) // 10)
                     AND yy.y = 2 * ((d.doc_id % 40) // 10) + 1
                    THEN (((d.doc_id // 40) * 37 + xx.x * 13 + yy.y * 29) % 251 + 96) % 256
                    ELSE ((d.doc_id // 40) * 37 + xx.x * 13 + yy.y * 29) % 251 END AS v
              FROM d,
                   (SELECT unnest(range(0, 18)) AS x) xx,
                   (SELECT unnest(range(0, 16)) AS y) yy),
      hb AS (SELECT doc_id, v // 16 AS b, CAST(count(*) AS BIGINT) AS c
             FROM pix GROUP BY 1, 2),
      grid AS (SELECT d.doc_id, bb.b, coalesce(hb.c, 0) AS c
               FROM d CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bb
               LEFT JOIN hb ON hb.doc_id = d.doc_id AND hb.b = bb.b)
      SELECT doc_id,
        CAST(sum(c) AS BIGINT) AS n_px,
        CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz_bins,
        string_agg(CAST(c AS VARCHAR), ',' ORDER BY b) AS hist,
        round(-(CAST(sum(CASE WHEN c > 0
                   THEN CAST(round(((CAST(c AS DOUBLE) / 288)
                        * ln(CAST(c AS DOUBLE) / 288))
                        * 1000000000000.0) AS BIGINT)
                   ELSE 0 END) AS DOUBLE) / 1000000000000.0), 6) AS entropy6
      FROM grid GROUP BY doc_id ORDER BY doc_id NULLS FIRST""",

    // q181: the q135 training chain, then the mid-rank ECDF over the p6
    // vocabulary — (cum_before + (c+1)/2)/n as the same rationals of the
    // same exact counts
    "q181_quantile_transform" -> s"""
      WITH ${logisticCtes(4)},
      sc AS (SELECT doc_id, round(1.0 / (1.0 + exp(-$logisticZ)), 6) AS p6
             FROM f, w4),
      cnt AS (SELECT p6, CAST(count(*) AS BIGINT) AS c FROM sc
              WHERE p6 IS NOT NULL GROUP BY p6),
      cum AS (SELECT p6, c, sum(c) OVER (ORDER BY p6) AS cumc FROM cnt),
      nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
      pos AS (SELECT p6,
               (CAST(cumc - c AS DOUBLE) + CAST(c + 1 AS DOUBLE) / 2) / nn.n AS qpos
              FROM cum, nn)
      SELECT sc.doc_id, sc.p6, round(pos.qpos, 6) AS qpos
      FROM sc LEFT JOIN pos USING (p6)
      WHERE sc.doc_id % 10 = 4
      ORDER BY sc.doc_id NULLS FIRST""",

    // q182: reference-decile edges via quantile_cont on the even half
    // (the q45/q137 percentile identity; k/10 as the same IEEE double),
    // bin = count of strictly-exceeded edges, add-one-smoothed fractions
    "q182_psi_drift" -> """
      WITH r AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
                 WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
      c AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
            WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
      e AS (SELECT quantile_cont(v, [CAST(1 AS DOUBLE)/10, CAST(2 AS DOUBLE)/10,
             CAST(3 AS DOUBLE)/10, CAST(4 AS DOUBLE)/10, CAST(5 AS DOUBLE)/10,
             CAST(6 AS DOUBLE)/10, CAST(7 AS DOUBLE)/10, CAST(8 AS DOUBLE)/10,
             CAST(9 AS DOUBLE)/10]) AS edges FROM r),
      rb AS (SELECT len(list_filter(e.edges, x -> r.v > x)) AS bin,
               CAST(count(*) AS BIGINT) AS n_ref
             FROM r, e GROUP BY 1),
      cb AS (SELECT len(list_filter(e.edges, x -> c.v > x)) AS bin,
               CAST(count(*) AS BIGINT) AS n_cur
             FROM c, e GROUP BY 1),
      nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
      nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      spine AS (SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS bin),
      fr AS (SELECT spine.bin,
               coalesce(rb.n_ref, 0) AS n_ref, coalesce(cb.n_cur, 0) AS n_cur,
               CAST(coalesce(rb.n_ref, 0) + 1 AS DOUBLE) / (nr.n + 10) AS ref_frac,
               CAST(coalesce(cb.n_cur, 0) + 1 AS DOUBLE) / (nc.n + 10) AS cur_frac
             FROM spine LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin), nr, nc)
      SELECT bin, n_ref, n_cur,
        round(ref_frac, 6) AS ref_frac, round(cur_frac, 6) AS cur_frac,
        round((cur_frac - ref_frac) * ln(cur_frac / ref_frac), 6) AS term
      FROM fr ORDER BY bin NULLS FIRST""",

    // q183: per-source rank-form Gini over ascending (tokens, doc_id) —
    // the i*x and x sums as exact BIGINTs, the same two divisions
    "q183_gini_concentration" -> """
      WITH b AS (SELECT source AS g, doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS x
                 FROM documents WHERE text IS NOT NULL),
      r AS (SELECT g, x,
             CAST(row_number() OVER (PARTITION BY g ORDER BY x, doc_id) AS BIGINT) AS i
            FROM b),
      a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS total, sum(i * x) AS ix
            FROM r GROUP BY g)
      SELECT g AS source, n, total,
        round(CAST(ix * 2 AS DOUBLE) / CAST(nullif(n * total, 0) AS DOUBLE)
              - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
      FROM a ORDER BY source NULLS FIRST""",

    // q184: leading digit of doc_id*n_chars as the first character of
    // the decimal string; Benford expectation log10(1+1/d); chi-square
    // terms over the exact counts; 9-row spine so empty digits pin 0
    "q184_benford_audit" -> """
      WITH v AS (SELECT CAST(doc_id * n_chars AS BIGINT) AS x FROM documents
                 WHERE doc_id * n_chars IS NOT NULL AND doc_id * n_chars > 0),
      c AS (SELECT CAST(substr(CAST(x AS VARCHAR), 1, 1) AS BIGINT) AS digit,
              CAST(count(*) AS BIGINT) AS obs
            FROM v GROUP BY 1),
      spine AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS digit),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      f AS (SELECT spine.digit, coalesce(c.obs, 0) AS obs,
              log10(1.0 + 1.0 / spine.digit) AS ef
            FROM spine LEFT JOIN c USING (digit))
      SELECT digit, obs, round(ef, 6) AS exp_frac,
        round((obs - ef * nn.n) * (obs - ef * nn.n) / (ef * nn.n), 6) AS term
      FROM f, nn ORDER BY digit NULLS FIRST""",

    // q185: 32 equal-population quantile_cont edges over ALL values (the
    // q182 percentile identity), bin = count of strictly-exceeded edges,
    // then q175's CDF-grid/sup machinery on the bounded bin spine
    "q185_ks_binned" -> s"""
      WITH b AS (SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v
                 FROM lineitem WHERE l_extendedprice IS NOT NULL),
      e AS (SELECT quantile_cont(v, [${(1 until 32).map(k =>
        s"CAST($k AS DOUBLE)/32").mkString(", ")}]) AS edges FROM b),
      bb AS (SELECT g, len(list_filter(e.edges, x -> b.v > x)) AS bin FROM b, e),
      c AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS c FROM bb GROUP BY 1, 2),
      gs AS (SELECT DISTINCT g FROM b),
      spine AS (SELECT CAST(unnest(range(0, 32)) AS BIGINT) AS bin),
      grid AS (SELECT gs.g, spine.bin, coalesce(c.c, 0) AS c
               FROM gs CROSS JOIN spine
               LEFT JOIN c ON c.g = gs.g AND c.bin = spine.bin),
      ns AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
      na AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM b),
      tot AS (SELECT bin, sum(ct) OVER (ORDER BY bin) AS cum_t FROM (
               SELECT bin, count(*) AS ct FROM bb GROUP BY 1) t),
      cum AS (SELECT g, bin, sum(c) OVER (PARTITION BY g ORDER BY bin) AS cum_g
              FROM grid),
      dd AS (SELECT cum.g, ns.n, na.n_all - ns.n AS n_rest,
              max(abs(CAST(cum.cum_g AS DOUBLE) / ns.n -
                      CAST(tot.cum_t - cum.cum_g AS DOUBLE) / (na.n_all - ns.n))) AS d
             FROM cum JOIN tot USING (bin) JOIN ns ON ns.g = cum.g CROSS JOIN na
             GROUP BY 1, 2, 3)
      SELECT g AS flag, CAST(n AS BIGINT) AS n, CAST(n_rest AS BIGINT) AS n_rest,
        round(d, 6) AS d,
        round(d * sqrt(CAST(n AS DOUBLE) * n_rest / (n + n_rest)), 6) AS ks
      FROM dd ORDER BY flag NULLS FIRST""",

    // q186: the q135 training chain, then 16 equal-population edges over
    // the p6 scores and each row's bin MIDPOINT (bin + 0.5)/16 — the
    // map-only binned ECDF, mirrored op-for-op
    "q186_quantile_binned" -> s"""
      WITH ${logisticCtes(4)},
      sc AS (SELECT doc_id, round(1.0 / (1.0 + exp(-$logisticZ)), 6) AS p6
             FROM f, w4),
      e AS (SELECT quantile_cont(p6, [${(1 until 16).map(k =>
        s"CAST($k AS DOUBLE)/16").mkString(", ")}]) AS edges
            FROM sc WHERE p6 IS NOT NULL)
      SELECT sc.doc_id, sc.p6,
        CASE WHEN sc.p6 IS NULL THEN NULL ELSE
          round((CAST(len(list_filter(e.edges, x -> sc.p6 > x)) AS DOUBLE) + 0.5)
                / 16.0, 6) END AS qpos
      FROM sc, e WHERE sc.doc_id % 10 = 4
      ORDER BY sc.doc_id NULLS FIRST""",

    // q187: mantissa normalization v/10^floor(log10 v) with the one-step
    // off-by-one correction, digit = floor of the 1e-9-snapped mantissa
    // (engine-exact by the integer-scale rounding identity), then q184's
    // chi-square census
    "q187_benford_significant" -> """
      WITH v AS (SELECT CAST(l_extendedprice * l_discount AS DOUBLE) AS v
                 FROM lineitem
                 WHERE l_extendedprice * l_discount IS NOT NULL
                   AND l_extendedprice * l_discount > 0),
      m AS (SELECT v / pow(10.0, floor(log10(v))) AS m0 FROM v),
      d AS (SELECT CAST(least(floor(round((CASE WHEN m0 >= 10 THEN m0 / 10
                    WHEN m0 < 1 THEN m0 * 10 ELSE m0 END)
                  * 1000000000.0) / 1000000000.0), 9) AS BIGINT) AS digit
            FROM m),
      c AS (SELECT digit, CAST(count(*) AS BIGINT) AS obs FROM d GROUP BY 1),
      spine AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS digit),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      f AS (SELECT spine.digit, coalesce(c.obs, 0) AS obs,
              log10(1.0 + 1.0 / spine.digit) AS ef
            FROM spine LEFT JOIN c USING (digit))
      SELECT digit, obs, round(ef, 6) AS exp_frac,
        round((obs - ef * nn.n) * (obs - ef * nn.n) / (ef * nn.n), 6) AS term
      FROM f, nn ORDER BY digit NULLS FIRST""",

    // q188: reference = first-half events (16 equal-population edges +
    // histogram), current = second half; both binned by the strict-edge
    // fold, CDFs cumulated over the 16-bin spine, D = sup |F_c - F_r|,
    // ks = D*sqrt(n*m/(n+m)) — exact rationals of exact counts
    "q188_ks_vs_reference" -> s"""
      WITH r AS (SELECT CAST(value AS DOUBLE) AS v FROM events
                 WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL),
      c AS (SELECT CAST(value AS DOUBLE) AS v FROM events
            WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
      e AS (SELECT quantile_cont(v, [${(1 until 16).map(k =>
        s"CAST($k AS DOUBLE)/16").mkString(", ")}]) AS edges FROM r),
      rb AS (SELECT len(list_filter(e.edges, x -> r.v > x)) AS bin,
               count(*) AS n FROM r, e GROUP BY 1),
      cb AS (SELECT len(list_filter(e.edges, x -> c.v > x)) AS bin,
               count(*) AS n FROM c, e GROUP BY 1),
      spine AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS bin),
      g AS (SELECT spine.bin, coalesce(rb.n, 0) AS nr, coalesce(cb.n, 0) AS nc
            FROM spine LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)),
      cum AS (SELECT bin, sum(nc) OVER (ORDER BY bin) AS cc,
                sum(nr) OVER (ORDER BY bin) AS cr FROM g),
      nn AS (SELECT CAST(sum(nc) AS BIGINT) AS n_cur,
               CAST(sum(nr) AS BIGINT) AS n_ref FROM g),
      dd AS (SELECT max(abs(CAST(cum.cc AS DOUBLE) / nn.n_cur
                        - CAST(cum.cr AS DOUBLE) / nn.n_ref)) AS d
             FROM cum, nn)
      SELECT nn.n_cur, nn.n_ref, round(dd.d, 6) AS d,
        round(dd.d * sqrt(CAST(nn.n_cur AS DOUBLE) * nn.n_ref
              / (nn.n_cur + nn.n_ref)), 6) AS ks
      FROM nn, dd""",
  )

  // q128: the hotKeySafe associative form's contract is answer IDENTITY
  // with the window form, so it is gated against the exact q122 oracle —
  // two independent Spark plans and one DuckDB derivation all meeting at
  // the same byte-identical reconstruction
  val oracles: Map[String, String] = oraclesBase +
    ("q128_line_dedup_hotsafe" -> oraclesBase("q122_line_dedup"))
}
