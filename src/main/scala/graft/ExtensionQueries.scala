package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Rounding, TextOps, VectorFunctions => V}
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.operators.TextAnalysis

/** North-star extension operators (training-data-pipeline surface), each a
  * first-class queries() entry with a DuckDB oracle where SQL-expressible.
  * Thresholds/parameters were sized against the fixture distributions
  * (token vocabulary is shared across docs, so shingle n=3 is what makes
  * near-dup detection discriminative; embedding cosine tops out ≈0.48).
  */
object ExtensionQueries {

  private def sortedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** q31: MinHash(8) + LSH(2 bands × 4 rows) near-dup pairs over 3-gram
    * shingles — candidates via band equi-join, never N².
    *
    * Cache contract (applies to q32/q33 too): the dedup operators return a
    * materialized pair table (a local checkpoint, small — that is the
    * point of banding) so the sort below doesn't recompute the pipeline;
    * a caller running MANY dedup calls in one session wraps them in
    * [[Dedup.withPairs]] or calls [[Materialize.release]] on the result
    * when done — or just drops the reference, and the ContextCleaner
    * frees the stored rows. */
  def q31(t: Tables): DataFrame =
    Dedup.minHashNearDups(t.documents, col("doc_id"), col("text"),
        numHashes = 8, bands = 2, shingleN = 3, threshold = 0.5)
      .select(col("da"), col("db"), Rounding.portable(col("est"), 6).as("est"))
      .transform(sortedSmall(_, col("da"), col("db")))

  /** q32: SimHash(32-bit) Hamming ≤ 3 pairs via pigeonhole-banded join
    * (identical result set to the oracle's N² scan). Hashes come from the
    * native one-pass expression — no shingle explode. */
  def q32(t: Tables): DataFrame =
    Dedup.simHashNearDups(
        Dedup.simHashNative(t.documents, col("doc_id"), col("text"), 3),
        maxDist = 3)
      .transform(sortedSmall(_, col("da"), col("db")))

  /** q33: exact 3-gram Jaccard ≥ 0.5 via inverted-index join. */
  def q33(t: Tables): DataFrame =
    Dedup.ngramJaccard(Dedup.shingleSet(t.documents, col("doc_id"), col("text"), 3), 0.5)
      .select(col("da"), col("db"), Rounding.portable(col("jacc"), 6).as("jacc"))
      .transform(sortedSmall(_, col("da"), col("db")))

  /** q34: embedding cosine near-dup pairs (exact, all-pairs ≥ 0.4); the
    * bucketed scale path is q35's IVF machinery. */
  def q34(t: Tables): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // The stream side of the nested-loop join must be repartitioned: the
    // corpus parquet is one scan split, which would serialize all N²/2
    // similarity evaluations into a single task. (All-pairs is inherently
    // O(N²) — the bucketed scale path is q35's IVF.)
    val a = e.repartition(32).select(col("vec_id").as("va"), col("e").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("e").as("eb"))
    a.join(broadcast(b), col("va") < col("vb"))
      .select(col("va"), col("vb"),
        graft.plans.GraftFunctions.cosineSimilarity(col("ea"), col("eb")).as("sim"))
      .filter(col("sim") >= 0.4)
      .select(col("va"), col("vb"), Rounding.portable(col("sim"), 6).as("sim"))
      .transform(sortedSmall(_, col("va"), col("vb")))
  }

  /** q35: IVF-bucketed approximate top-k — assign all vectors to the
    * nearest of 8 centroids, queries scan only their own bucket. */
  def q35(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val centroids = e.filter(col("vec_id") < 8)
    val assign = Similarity.ivfAssign(e, centroids)
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.ivfTopK(e, assign, queries, k = 3)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"), Rounding.portable(col("sim"), 6).as("sim"))
  }

  /** q142: DISTRIBUTED k-MEANS TRAINING ([[Similarity.trainCentroids]])
    * — the third member of the in-engine training family (BPE q126,
    * logistic q135/q141): 2 Lloyd rounds at k=8 over the embeddings,
    * init = first k vectors by id, cosine assignment with the
    * (csim DESC, cid) tie-break q35's gate already proved
    * engine-portable, per-round centroid = elementwise mean. The gate
    * explodes every centroid component (8×64 rows at 6 decimals) — any
    * divergence in either round's assignment or mean flips some
    * component. Each round is one broadcast assignment pass + one
    * k-group mean aggregate; only k rows ever reach the driver. */
  def q142(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    Similarity.trainCentroids(e, k = 8, iters = 2, dim = 64)
      .select(col("vec_id").as("cid"), posexplode(col("e")))
      .select(col("cid"), col("pos").cast("long").as("i"),
        graft.functions.Rounding.portable(col("col"), 6).as("v6"))
      .transform(sortedSmall(_, col("cid"), col("i")))
  }

  /** q144: MARGIN-BASED BITEXT MINING ([[Similarity.marginMinedPairs]])
    * — the CCMatrix/CCAligned parallel-pair criterion: even vec_ids as
    * the source side, odd as the target, brute-force cosine candidates
    * (the exact generation path the oracle can replay; production swaps
    * in IVF candidates — the criterion is generation-agnostic by
    * design), k=4 neighborhood normalization, mined = top-1 pairs at
    * ratio margin ≥ 1. The gate pins the mined pair SET, both raw sims
    * and margins. */
  def q144(t: Tables): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val a = e.filter(col("vec_id") % 2 === 0).repartition(32)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val b = e.filter(col("vec_id") % 2 === 1)
    val pairs = a.join(broadcast(b))
      .select(col("qid"), col("vec_id"),
        graft.plans.GraftFunctions.cosineSimilarity(col("qe"), col("e")).as("sim"))
    Similarity.marginMinedPairs(pairs, k = 4, minMargin = 1.0)
      .select(col("qid"), col("vec_id"),
        Rounding.portable(col("sim"), 6).as("sim6"),
        Rounding.portable(col("margin"), 6).as("margin6"))
      .transform(sortedSmall(_, col("qid")))
  }

  /** q118: SemDedup ([[Similarity.semDedupDropped]]) — semantic
    * near-duplicate pruning scoped to q35's 8 deterministic clusters:
    * within a cluster, a vector is dropped when a cosine-0.4 neighbor
    * is more diverse (lower centroid similarity, vec_id tie-break).
    * The hash gate pins the assignment, the pair threshold, the
    * diversity rule and each dropped vector's neighbor count. */
  def q118(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val centroids = e.filter(col("vec_id") < 8)
    Similarity.semDedupDropped(e, centroids, tau = 0.4)
      .select(col("cid"), col("vec_id"),
        Rounding.portable(col("simc"), 6).as("simc"), col("n_dups"))
      .transform(sortedSmall(_, col("cid"), col("vec_id")))
  }

  /** q80: multi-probe IVF top-k ([[Similarity.ivfTopKProbed]]) — q35's
    * setup with each query probing its 2 nearest centroid buckets, the
    * standard IVF recall lever (a neighbor just across the Voronoi
    * boundary is found in the 2nd bucket at 2× scan cost, not N× brute
    * force). */
  def q80(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val centroids = e.filter(col("vec_id") < 8)
    val assign = Similarity.ivfAssign(e, centroids)
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.ivfTopKProbed(e, assign, centroids, queries, k = 3, nprobe = 2)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"), Rounding.portable(col("sim"), 6).as("sim"))
  }

  /** q89: PRODUCT-QUANTIZATION ANN ([[Similarity.pqCodebook]]/`pqEncode`/
    * `pqReconstruct`/`pqTopKAdc`) — the memory-side ANN sibling of
    * q35/q80's IVF: dim 64 split into m=4 subspaces, each vector encoded
    * as 4 codes into a 16-entry sub-codebook (init-only, first 16
    * vectors — q35's deterministic-centroid discipline), queries ranked
    * by asymmetric distance against the reconstructions. The hash gate
    * pins encoding argmins, reconstruction assembly order, AND the ADC
    * ranking with its tie-breaks. */
  def q89(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cb = Similarity.pqCodebook(e, m = 4, ksub = 16, dim = 64)
    val codes = Similarity.pqEncode(e, cb, m = 4, dim = 64)
    val recon = Similarity.pqReconstruct(codes, cb)
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.pqTopKAdc(recon, queries, k = 3)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"),
        Rounding.portable(col("adist"), 6).as("adist"), col("rn").cast("long").as("rn"))
  }

  /** q131: PQ candidates + EXACT re-rank ([[Similarity.pqTopKReranked]])
    * — the production recipe around q89's codes: ADC keeps the top
    * k·mult candidates per query (corpus side stays codes-only), then
    * only those re-rank against the exact vectors. The ann_recall soak
    * measures WHY this exists (ADC-only recall@10 0.29-0.40 even on
    * clustered data; +rerank ≥ 0.996); this gate pins the exact
    * two-stage semantics — candidate cut by (adist, vec_id), final
    * order by exact L2 — against an independent DuckDB derivation. */
  def q131(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cb = Similarity.pqCodebook(e, m = 4, ksub = 16, dim = 64)
    val recon = Similarity.pqReconstruct(Similarity.pqEncode(e, cb, m = 4, dim = 64), cb)
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.pqTopKReranked(recon, e, queries, k = 3, mult = 4)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"),
        Rounding.portable(col("adist"), 6).as("adist"), col("rn").cast("long").as("rn"))
  }

  /** q148: IVF + PQ + EXACT RERANK end-to-end
    * ([[Similarity.ivfPqTopKReranked]]) — the full production layout
    * q90 and q131 each show half of: candidates from bucket-restricted
    * ADC (q90's probes over q89's codes, kept at k·mult), final order
    * from exact L2 over just those candidates. The ann_recall harness
    * pins the operating point (composition reaches the q131 rerank
    * floor at bucket-scan cost); this gate pins the two-stage
    * semantics — candidate cut by (adist, vec_id) within probed
    * buckets, final order by exact L2 — against an independent DuckDB
    * derivation. */
  def q148(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val centroids = e.filter(col("vec_id") < 8)
    val assign = Similarity.ivfAssign(e, centroids)
    val cb = Similarity.pqCodebook(e, m = 4, ksub = 16, dim = 64)
    val recon = Similarity.pqReconstruct(Similarity.pqEncode(e, cb, m = 4, dim = 64), cb)
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.ivfPqTopKReranked(assign, recon, centroids, e, queries,
        k = 3, nprobe = 2, mult = 4)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"),
        Rounding.portable(col("adist"), 6).as("adist"), col("rn").cast("long").as("rn"))
  }

  /** q149: RESIDUAL-encoded IVF-PQ — IVFADC proper
    * ([[Similarity.ivfResidualReconstruct]]): q90's layout with PQ
    * quantizing `e − centroid` instead of `e`, reconstruction adding
    * the centroid back, ADC unchanged on top. The ann_recall harness
    * pins the recall lift residual encoding buys at identical m/ksub;
    * this gate pins the arithmetic — subtract, encode, reconstruct,
    * add, bucket-restricted ADC — against an independent DuckDB
    * derivation (element-wise lambdas over the same slices). */
  def q149(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val centroids = e.filter(col("vec_id") < 8)
    val assign = Similarity.ivfAssign(e, centroids)
    // cbFrom = 8: vec 0-7 ARE the IVF centroids, so their residuals are
    // exactly zero — seeding the codebook from vec_id < 16 would fill
    // half of it with duplicate zero entries (effective ksub 9, codes
    // 0-7 indistinguishable). Training on [8, 24) keeps all 16 entries
    // distinct and exercises the full encode arithmetic the gate claims
    val recon = Similarity.ivfResidualReconstruct(e, assign, centroids,
      m = 4, ksub = 16, dim = 64, cbFrom = 8)
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.ivfPqTopK(assign, recon, centroids, queries, k = 3, nprobe = 2)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"),
        Rounding.portable(col("adist"), 6).as("adist"), col("rn").cast("long").as("rn"))
  }

  /** q151: the COMPLETE production ANN layout in one plan — residual
    * IVFADC candidates + exact rerank: q149's residual-encoded
    * reconstructions feed q148's two-stage search (bucket-restricted
    * ADC candidate cut at k·mult, final order by exact L2 over just
    * those candidates). This is the layout a billion-vector deployment
    * actually runs — IVF prunes the corpus, residual-PQ codes rank
    * cheaply inside probed buckets, raw vectors are touched only for
    * the k·mult finalists. Candidate generation never leaves the
    * probed buckets, so corpus cost is codes-only; the ann_recall
    * harness pins the recall economics of each stage separately. */
  def q151(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val centroids = e.filter(col("vec_id") < 8)
    val assign = Similarity.ivfAssign(e, centroids)
    val recon = Similarity.ivfResidualReconstruct(e, assign, centroids,
      m = 4, ksub = 16, dim = 64, cbFrom = 8)
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.ivfPqTopKReranked(assign, recon, centroids, e, queries,
        k = 3, nprobe = 2, mult = 4)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"),
        Rounding.portable(col("adist"), 6).as("adist"), col("rn").cast("long").as("rn"))
  }

  /** q152: INCREMENTAL index ingest ([[Similarity.indexIngest]]) — the
    * daily-batch discipline applied to the vector index: vec_id % 50
    * == 0 arrives as the new batch; the index artifacts (centroids
    * from ids [1,9), codebook seeded from ids [1,17) — both entirely
    * inside the indexed remainder) are treated as persisted outputs of
    * the earlier build, and the batch is assigned + encoded against
    * them map-side without the corpus being read. `SimilaritySpec`
    * pins incremental ≡ full-corpus encode on the shared artifacts —
    * the q75/q87 equivalence, restated for the index. */
  def q152(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val index = e.filter(col("vec_id") % 50 =!= 0)
    val batch = e.filter(col("vec_id") % 50 === 0)
    val centroids = index.filter(col("vec_id") >= 1 && col("vec_id") < 9)
    val cb = Similarity.pqCodebook(index, m = 4, ksub = 16, dim = 64, trainFrom = 1)
    Similarity.indexIngest(batch, centroids, cb, m = 4, dim = 64)
      .transform(sortedSmall(_, col("vec_id"), col("j")))
      .select(col("vec_id"), col("cid"),
        col("j").cast("long").as("j"), col("code").cast("long").as("code"))
  }

  /** q153: SCALAR-QUANTIZED (SQ8) ANN — the near-exact rung of the
    * compression ladder ([[Similarity.sqStats]]/`sqEncode`/
    * `sqReconstruct`): every dimension quantizes independently to an
    * 8-bit cell over its corpus [min,max] range (4× memory vs float32,
    * 256 levels PER dim — vs PQ's m·log₂ksub bits per VECTOR), and the
    * midpoint reconstructions feed the unchanged ADC ranker. The whole
    * encode is ONE corpus aggregate (a 1-row stats broadcast) + a
    * map-only projection — no argmin join, no shuffle. The hash gate
    * pins per-dim stats, every cell index (floor/clamp arithmetic),
    * midpoint reconstruction, and the ADC ranking with tie-breaks. */
  def q153(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val stats = Similarity.sqStats(e, dim = 64)
    val recon = Similarity.sqReconstruct(Similarity.sqEncode(e, stats), stats)
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.pqTopKAdc(recon, queries, k = 3)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"),
        Rounding.portable(col("adist"), 6).as("adist"), col("rn").cast("long").as("rn"))
  }

  /** q155: k-means‖ SCALABLE INIT ([[Similarity.scalableInit]]) — the
    * Bahmani et al. 2012 oversampling initializer, fully deterministic
    * (md5 coin flips, integer-snapped potential, weighted farthest-first
    * reduction), fixing [[Similarity.trainCentroids]]' init-by-lowest-id
    * blindness to where the data actually lives. The gate pins the WHOLE
    * trajectory: the hash-drawn first seed, both oversampling rounds
    * (every candidate's membership is a pure function of the md5 draw vs
    * the integer threshold), the attracted-count weights, and the k=4
    * selection ranks — replayed in the oracle as unrolled CTE rounds
    * (the q126/q135 discipline). */
  def q155(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    Similarity.scalableInit(e, k = 4, rounds = 2, l = 4)
      .transform(sortedSmall(_, col("src_id")))
      .select(col("src_id"), col("weight"), col("rank"))
  }

  /** q160: the k-MEANS PIPELINE COMPOSED END-TO-END
    * ([[Similarity.scalableInitCentroids]] →
    * [[Similarity.trainCentroidsFrom]] → [[Similarity.ivfAssign]]) —
    * what production actually runs when it (re)builds an IVF index:
    * q155 gates the k-means‖ init ALONE and q142 gates Lloyd from the
    * lowest-id seeds ALONE; this gates their composition — principled
    * seeding feeding the trainer feeding the bucket assignment. Output
    * per trained centroid: every component at 6 decimals (any
    * divergence in the init trajectory, either Lloyd round's
    * assignment, or a mean flips some component — the q142 argument)
    * PLUS the cluster's member count under the final assignment (the
    * index census a rebuild reports). The oracle extends q155's
    * unrolled-CTE ladder by q142's two Lloyd layers and the closing
    * assignment census. Scale shape: everything the parts already
    * proved — per round one broadcast assignment pass + one k-group
    * mean; only k-row centroid sets reach the driver. The measured
    * recall claim lives in the ann_recall soak's `kmeanspp_composed`
    * reading (docs/ANN_RECALL.json). */
  def q160(t: Tables): DataFrame = {
    // r21: ONE cached vector table serves every eager pass of the
    // composed pipeline — the k-means‖ init scans the corpus ~2×/round
    // (φ + sample), the weighting pass once, each Lloyd iteration twice
    // (assign + mean-join); uncached, each of those ~9 passes re-read
    // the parquet (plan-counted: 9 scans → 1). The init/train phases
    // collect eagerly during construction, so the cache can be RELEASED
    // before returning (the r21 lifecycle rule); only the lazy census
    // legs then re-read the file — 2 scans, the operator's own floor.
    // Per-pass arithmetic is untouched (same rows, same folds), so the
    // trajectory and the gated output are bit-identical.
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (init, trained) =
      try {
        val i = Similarity.scalableInitCentroids(e, k = 4, rounds = 2, l = 4)
        (i, Similarity.trainCentroidsFrom(e, i, iters = 2, dim = 64))
      } finally { e.unpersist(blocking = false); () }
    val census = Similarity.ivfAssign(e, trained)
      .groupBy("cid").agg(count(lit(1)).as("n_members"))
    trained.select(col("vec_id").as("cid"), posexplode(col("e")))
      .select(col("cid"), col("pos").cast("long").as("i"),
        graft.functions.Rounding.portable(col("col"), 6).as("v6"))
      .join(census, "cid")
      .select(col("cid"), col("i"), col("v6"), col("n_members"))
      .transform(sortedSmall(_, col("cid"), col("i")))
  }

  /** q163: UNIGRAM KL/JS DIVERGENCE ([[TextAnalysis.unigramDivergence]])
    * — the distribution-shift audit between the en and de slices of the
    * corpus (add-one smoothing over the union vocabulary, so both KL
    * directions are finite on disjoint vocabularies; JS is the
    * symmetric bounded number to threshold on). One vocabulary-keyed
    * count aggregate + a 1-row totals broadcast + one vocabulary-sized
    * divergence fold — the corpus reads once, nothing corpus-sized
    * reshuffles. Gate rounds the three sums at 6 decimals (float-Σ
    * association over the ~union-vocab terms is the only cross-engine
    * freedom, far below 1e-6). */
  def q163(t: Tables): DataFrame =
    TextAnalysis.unigramDivergence(t.documents, col("text"),
        col("lang") === "en", col("lang") === "de")
      .select(col("n_vocab"), col("t_a"), col("t_b"),
        Rounding.portable(col("kl_ab"), 6).as("kl_ab6"),
        Rounding.portable(col("kl_ba"), 6).as("kl_ba6"),
        Rounding.portable(col("js"), 6).as("js6"))

  /** q161: BM25 TOP-K RETRIEVAL ([[TextAnalysis.bm25TopK]]) — the
    * classic probabilistic ranking function (Lucene default idf/tf
    * saturation, k1=1.2, b=0.75) over the documents table for three
    * literal probe queries: the retrieval primitive a pipeline uses for
    * leakage triage and targeted subset mining. Scale hinge: the probe
    * terms broadcast into a semi-restriction of the token table, so
    * tf/df shuffle only query-term postings — never the vocabulary; df
    * stays full-corpus (the q42 restrict-tf-never-df discipline).
    * Ranked on the 6-decimal ROUNDED score with doc_id tie-break (the
    * q94 limit-boundary discipline); the oracle restates idf, the
    * saturation quotient and the length norm verbatim. */
  def q161(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    import spark.implicits._
    val probes = Seq((0L, "scan"), (0L, "merge"), (1L, "vector"),
      (1L, "window"), (1L, "slow"), (2L, "the"), (2L, "data"))
      .toDF("qid", "term")
    TextAnalysis.bm25TopK(t.documents, col("doc_id"), col("text"), probes, k = 5)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("doc_id"), col("score6"), col("n_terms"), col("rn"))
  }

  /** q162: MATRYOSHKA PREFIX-DIM RERANK ([[Similarity.prefixRerankTopK]])
    * — MRL retrieval (Kusupati et al. 2022): candidates from the first
    * 16 of 64 dimensions (the narrow-prefix scan that reads a quarter
    * of the vector bytes at corpus scale), exact full-width re-rank of
    * the k·mult survivors — [[Similarity.pqTopKReranked]]'s candidate-
    * cut shape with slicing instead of quantization. The gate pins both
    * stages' L2 rankings and tie-breaks; the oracle replays them with
    * list slicing. */
  def q162(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.prefixRerankTopK(e, queries, k = 3, dPrefix = 16, mult = 4)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"),
        Rounding.portable(col("adist"), 6).as("adist"), col("rn").cast("long").as("rn"))
  }

  /** q165: SIMPLIFIED SILHOUETTE ([[Similarity.silhouetteSimplified]]) —
    * per-point internal cluster validity over q160/q142's trained
    * centroids: a = cosine distance to the OWN centroid, b = to the
    * NEAREST OTHER, s = (b−a)/max(a,b). Completes the cluster-audit
    * family: q104's [[Similarity.clusterAudit]] reads per-CLUSTER means
    * (Davies-Bouldin), this reads the per-POINT margin distribution —
    * mean_s for health, min_s for the worst boundary point a mean
    * hides. Centroid-based (Hruschka's "simplified" form), the only
    * silhouette that scales: classic silhouette is O(n²) per cluster,
    * this is one broadcast centroid pass + ONE vec_id exchange shared
    * by the top-2 window and the per-point pivot + a k-group mean. The
    * oracle extends q142's unrolled 2-round Lloyd ladder with the
    * top-2 ranking and the silhouette fold. */
  def q165(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // shared memoized TRAINED-CENTROID table (Tables.embeddingCentroids8)
    // — q165/q168/q169 audit the identical clustering, so the suite runs
    // the two Lloyd passes once; the cache owns the persist handle
    Similarity.silhouetteSimplified(e, t.embeddingCentroids8)
      .select(col("cid"), col("n"),
        Rounding.portable(col("mean_s"), 6).as("mean_s6"),
        Rounding.portable(col("min_s"), 6).as("min_s6"))
      .transform(sortedSmall(_, col("cid")))
  }

  /** q166: COHEN'S KAPPA ([[TextAnalysis.cohensKappa]]) — chance-
    * corrected agreement between the heuristic stopword language-ID
    * (q100's argmax rater, the cheap labeler) and the corpus `lang`
    * column (the reference labels): the eval-family member accuracy
    * can't provide — a rater that always predicts the majority class
    * scores high accuracy and kappa ≈ 0. Confusion matrix, marginals
    * and diagonal stay BIGINT; the closing division is the only float
    * (q154's discipline). One token aggregate per doc + one
    * category-keyed count aggregate; the confusion table is
    * categories², driver-free. */
  def q166(t: Tables): DataFrame = {
    val tok = t.documents.select(col("doc_id"), col("lang"),
      explode(TextOps.tokens(col("text"))).as("w"))
    val scoreAggs = TextAnalysis.langScores(col("w"))
      .map { case (lang, c) => c.as(s"s_$lang") }
    val perDoc = tok.groupBy("doc_id", "lang")
      .agg(scoreAggs.head, scoreAggs.tail: _*)
      .select(col("lang"), TextAnalysis.predictLang().as("pred"))
    TextAnalysis.cohensKappa(perDoc, col("pred"), col("lang"))
      .select(col("n"), col("agree"), col("pe_num"),
        Rounding.portable(col("kappa"), 6).as("kappa6"))
  }

  /** q167: ROBUST DISTRIBUTION STATS ([[TextAnalysis.robustStats]]) —
    * per-language n_chars profile: exact linear-interpolated quartiles
    * (`percentile` ≡ DuckDB `quantile_cont`), IQR, MAD, 10–90 trimmed
    * mean, Tukey-fence outlier count. The outlier-resistant audit the
    * fixed-threshold Gopher gates (q115/q120) and mean-based stats
    * can't give: a handful of pathological documents moves a mean
    * arbitrarily, never the median/MAD. Two grouped passes (quantiles,
    * then deviations against the broadcast per-group quantile row); at
    * 100 TB the documented swap is `approx_percentile` — the spec pins
    * the approx form within its rank-error bound against this exact
    * form. */
  def q167(t: Tables): DataFrame =
    TextAnalysis.robustStats(t.documents, col("lang"), col("n_chars"))
      .select(col("g").as("lang"), col("n"),
        Rounding.portable(col("p25"), 6).as("p25"),
        Rounding.portable(col("med"), 6).as("med"),
        Rounding.portable(col("p75"), 6).as("p75"),
        Rounding.portable(col("iqr"), 6).as("iqr"),
        Rounding.portable(col("mad"), 6).as("mad"),
        Rounding.portable(col("trimmed_mean"), 6).as("trimmed_mean"),
        col("n_outliers"))
      .transform(sortedSmall(_, col("lang")))

  /** q168: ADJUSTED RAND INDEX ([[Similarity.adjustedRandIndex]]) —
    * EXTERNAL cluster validity: does the trained IVF clustering
    * (q142's 2-round Lloyd → [[Similarity.ivfAssign]]) recover the
    * generator's `label` partition, chance-corrected and
    * label-permutation-invariant (Hubert & Arabie 1985). q165 answers
    * "internally coherent?", this answers "matches the reference
    * partition?" — together the standard internal/external validity
    * pair. Pair counts stay exact BIGINT out of ONE GROUPING SETS
    * aggregate (contingency + both marginals + n in a single
    * corpus-sized shuffle); the closing divisions are the only floats.
    * The oracle replays the Lloyd ladder, the assignment, and the
    * pair-counting combinatorics with `//` integer division. */
  def q168(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // shared memoized trained centroids (q165's comment) — the ASSIGNMENT
    // still runs per query; only the training trajectory is shared
    val ours = Similarity.ivfAssign(e, t.embeddingCentroids8)
      .select(col("vec_id").as("id"), col("cid"))
    val ref = t.embeddings.select(col("vec_id").as("id"),
      col("label").cast("long").as("cid"))
    Similarity.adjustedRandIndex(ours, ref)
      .select(col("n"), col("sum_ij"), col("sum_a"), col("sum_b"),
        Rounding.portable(col("ari"), 6).as("ari6"))
  }

  /** q169: NORMALIZED MUTUAL INFORMATION
    * ([[Similarity.normalizedMutualInfo]]) — q168's information-
    * theoretic sibling over the SAME clustering pair (trained IVF
    * assignment vs generator label): ARI counts pairs, NMI weighs
    * splits by information content, and the two disagree exactly when
    * the disagreement is interesting (a class shattered into many
    * small pieces). The operator's hinge: ln(nij·n/(ai·bj)) seems to
    * need every cell joined to both marginals, but the log factors and
    * marginal sums collapse — ONE grouping-sets aggregate + ONE global
    * fold, zero joins (see the operator scaladoc for the identity).
    * The oracle recomputes the same closed forms from plain GROUP BYs. */
  def q169(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // shared memoized trained centroids (q165's comment)
    val ours = Similarity.ivfAssign(e, t.embeddingCentroids8)
      .select(col("vec_id").as("id"), col("cid"))
    val ref = t.embeddings.select(col("vec_id").as("id"),
      col("label").cast("long").as("cid"))
    Similarity.normalizedMutualInfo(ours, ref)
      .select(col("n"), Rounding.portable(col("mi"), 6).as("mi6"),
        Rounding.portable(col("h_a"), 6).as("h_a6"),
        Rounding.portable(col("h_b"), 6).as("h_b6"),
        Rounding.portable(col("nmi"), 6).as("nmi6"))
  }

  /** q170: COVARIANCE MATRIX ([[graft.operators.Pca.covarianceMatrix]])
    * — the gated corpus pass under the PCA family: the full
    * second-moment state (population covariance, upper triangle, means
    * and n per row) over the first 16 embedding dimensions, exactly the
    * numbers the driver-side eigensolver consumes — so the gate pins
    * the distributed 99% of PCA and `PcaSpec` pins the local eigen 1%
    * (orthonormality, eigenvalue order, rank recovery, projection
    * variance — not SQL-expressible). ONE fixed-state aggregate
    * (16.9 KB partials at dim 64, constant in the corpus), matrix
    * assembly driver-side at dim² scale.
    *
    * r18 ran the ORDER-EXACT sibling
    * ([[graft.operators.Pca.covarianceMatrixExact]], integer moments on
    * a 1e-6 grid — the q179/q183 discipline) after r17's driver capture
    * caught the float form's merge-order jitter flipping a `round(·,6)`
    * boundary under load — and STILL went driver-red, because the gate
    * hashed `round(DOUBLE, 6)` quotients and `round(DOUBLE, k)` is
    * implementation-defined across DuckDB versions (scaled-double in
    * 1.0, decimal-correct later); q170's 2.4e-9 min pre-round margin
    * sat inside the two algorithms' disagreement window.
    *
    * r19: the gate emits the RAW BIGINT moments
    * ([[graft.operators.Pca.covarianceMomentsExact]]) — `(i, j, n, sx,
    * sy, sxy)`, integers end-to-end, so NO engine's round()/float-format
    * semantics is in the hash path. The oracle sums the same snapped
    * longs; `PcaSpec` pins the derived matrix ≡ float form within the
    * snap bound and one identical canon md5 across partition counts and
    * input shuffles; `CanonSpec` pins the integer canon on a fixture
    * built entirely of round-boundary values. */
  def q170(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    graft.operators.Pca.covarianceMomentsExact(e, dim = 16)
      .transform(sortedSmall(_, col("i"), col("j")))
  }

  /** q159: SIGNED-PERMUTATION ROTATED PQ — OPQ-lite
    * ([[Similarity.sprRotation]]/`rotateSigned`): q89's PQ chain run in
    * a rotated space that scatters dimensions across subspaces
    * (variance re-balancing, PQ's classic contiguous-concentration fix;
    * the lift measured on a correlated corpus by the `opq_ab` probe is
    * recorded in ROUND_NOTES.md, round 16; the probe's source is
    * `Soak.scala` at 99b069a — the fixture embeddings are
    * dimension-iid, so HERE the gate pins the MECHANICS). The rotation is md5-derived, so the oracle
    * re-derives permutation and signs in SQL (rank over hashed dims)
    * instead of trusting interpolated literals, then replays encode /
    * reconstruct / ADC in the rotated space. */
  def q159(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val (perm, signs) = Similarity.sprRotation(64)
    val r = Similarity.rotateSigned(e, perm, signs)
    val cb = Similarity.pqCodebook(r, m = 4, ksub = 16, dim = 64)
    val recon = Similarity.pqReconstruct(Similarity.pqEncode(r, cb, m = 4, dim = 64), cb)
    val queries = r.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.pqTopKAdc(recon, queries, k = 3)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"),
        Rounding.portable(col("adist"), 6).as("adist"), col("rn").cast("long").as("rn"))
  }

  /** q90: IVF-PQ ([[Similarity.ivfPqTopK]]) — the billion-scale layout:
    * q35's 8-centroid bucketing composed with q89's 4×16 PQ codes; each
    * query probes its 2 nearest buckets and ranks members by asymmetric
    * distance against their reconstructions. The corpus side of the
    * search is codes-only — the layout where original vectors are read
    * once (at encode) and never again. */
  def q90(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val centroids = e.filter(col("vec_id") < 8)
    val assign = Similarity.ivfAssign(e, centroids)
    val cb = Similarity.pqCodebook(e, m = 4, ksub = 16, dim = 64)
    val recon = Similarity.pqReconstruct(Similarity.pqEncode(e, cb, m = 4, dim = 64), cb)
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    Similarity.ivfPqTopK(assign, recon, centroids, queries, k = 3, nprobe = 2)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"),
        Rounding.portable(col("adist"), 6).as("adist"), col("rn").cast("long").as("rn"))
  }

  /** q36: heuristic stopword language-ID confusion matrix. */
  def q36(t: Tables): DataFrame = {
    val tok = t.documents.select(col("doc_id"), col("lang"),
      explode(TextOps.tokens(col("text"))).as("w"))
    val scoreAggs = TextAnalysis.langScores(col("w"))
      .map { case (lang, c) => c.as(s"s_$lang") }
    tok.groupBy("doc_id", "lang")
      .agg(scoreAggs.head, scoreAggs.tail: _*)
      .select(col("lang"), TextAnalysis.predictLang().as("pred"))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("n"))
      .transform(sortedSmall(_, col("lang"), col("pred")))
  }

  /** q37: per-source quality scores (length / type-token ratio / short-doc
    * counts). */
  def q37(t: Tables): DataFrame = {
    val doc = t.documents.select(col("doc_id"), col("source"), col("n_chars"))
    val tok = t.documents
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("w")).as("n_uniq"),
        avg(length(col("w"))).as("avg_wlen"))
    doc.join(tok, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        Rounding.portable(avg(col("n_tok")), 4).as("avg_tokens"),
        Rounding.portable(avg(col("n_uniq") * lit(1.0) / col("n_tok")), 6).as("avg_ttr"),
        Rounding.portable(avg(col("avg_wlen")), 6).as("avg_wlen"),
        sum(when(col("n_chars") < 300, 1).otherwise(0)).cast("long").as("short_docs"))
      .transform(sortedSmall(_, col("source")))
  }

  /** q38: per-language token statistics (tokens, BPE-ish subwords, chars,
    * vocabulary). */
  def q38(t: Tables): DataFrame =
    t.documents
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .select(col("lang"), col("w"), length(col("w")).as("wl"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(TextAnalysis.subwordCount(col("w"))).cast("long").as("n_subwords"),
        sum(col("wl")).cast("long").as("n_chars"),
        countDistinct(col("w")).as("vocab"))
      .transform(sortedSmall(_, col("lang")))

  /** q39: sorted-token-set fingerprint dedup summary. */
  def q39(t: Tables): DataFrame = {
    val tok = t.documents
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "").distinct()
    Dedup.fingerprint(tok).agg(
      count(lit(1)).as("docs"),
      countDistinct(col("fp")).as("uniq_fp"),
      (count(lit(1)) - countDistinct(col("fp"))).cast("long").as("collapsed"))
  }

  /** q40: multimodal image pipeline with a REAL codec — synthesize one
    * encoded PNG/BMP/GIF per document (content derived deterministically
    * from doc_id, see [[Multimodal.synthImageBytes]]), then decode it with
    * javax.imageio: format sniffed from the container bytes, dimensions
    * and exact per-channel pixel sums from a full pixel read. The oracle
    * re-derives every output value arithmetically from doc_id — so a
    * decoder that misreads the container, the dimensions, or any pixel
    * hash-mismatches. */
  def q40(t: Tables): DataFrame = {
    val blobs = Multimodal.synthImages(t.documents.select(col("doc_id")), "doc_id")
    Multimodal.decodeImages(blobs, "doc_id", "blob").toDF()
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q129: QUARANTINE decode over a deliberately corrupted media batch
    * ([[Multimodal.decodeImagesOrQuarantine]] over
    * [[Multimodal.corruptFixture]]) — q40's real-codec pipeline meeting
    * a production crawl segment: payloads truncated past their magic
    * (`decode_error`) and mislabeled non-media bytes (`no_reader`)
    * become typed error rows with NULL metadata, intact payloads decode
    * to the exact q40 values, and NO task ever fails. The oracle derives
    * the full ok/quarantined split and every surviving pixel sum from
    * doc_id arithmetic. */
  def q129(t: Tables): DataFrame = {
    val blobs = Multimodal.synthImages(t.documents.select(col("doc_id")), "doc_id")
    val corrupted = Multimodal.corruptFixture(blobs, "doc_id", "blob")
    Multimodal.decodeImagesOrQuarantine(corrupted, "doc_id", "blob").toDF()
      .transform(sortedSmall(_, col("doc_id")))
  }

  /** q156: IMAGE PERCEPTUAL-HASH NEAR-DUP — the LAION-style image-dedup
    * kernel end to end: REAL PNG decode ([[Multimodal.decodeCellSums]],
    * javax.imageio at the codec boundary exactly like q40) → 9×8 box
    * downscale as integer cell sums → 64-bit dHash
    * ([[Multimodal.dHash64]], gradient-sign signature) → pigeonhole-
    * banded Hamming join at dist ≤ 3 (REUSING
    * [[Dedup.simHashNearDups]]' 64-bit banding — text and image
    * near-dup share the candidate machinery). The fixture plants
    * near-duplicate groups: every 4 slice-adjacent docs share a
    * textured base image, members perturbing one pixel (≤ 2 hash bits),
    * so (base, member) pairs are guaranteed hits while distinct groups
    * differ pseudo-randomly. The oracle re-derives pixels → cells →
    * bits → bands → pairs arithmetically from doc_id, no codec — any
    * decoder/downscale/hash/banding drift flips the hash. */
  def q156(t: Tables): DataFrame = {
    val slice = t.documents.select(col("doc_id")).filter(col("doc_id") % 10 === 7)
    val blobs = Multimodal.synthTexturedImages(slice, "doc_id")
    val cells = Multimodal.decodeCellSums(blobs, "doc_id", "blob", cw = 2, ch = 2)
    val hashes = cells.select(col("doc_id"),
      Multimodal.dHash64(col("cells"), gw = 9, gh = 8).as("sh"))
    Dedup.simHashNearDups(hashes, maxDist = 3, bits = 64)
      .transform(sortedSmall(_, col("da"), col("db")))
  }

  /** q41: JSON props parsed as a typed MAP column (`from_json` →
    * `map<string,int>`) — the MapType variant of Q19's regexp extraction
    * (SURVEY §2.8 "Map" row). */
  def q41(t: Tables): DataFrame = {
    // Parse as map<string,string> and coerce the ONE key we read:
    // from_json(map<string,int>) nulls the ENTIRE map when any value in
    // the document is non-integer, whereas the oracle's json_extract
    // coerces per key — a bad value under key "j" must not erase key "k".
    val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
    // try_element_at: plain element_at throws under Spark 4's ANSI mode
    // when a key is absent, where the oracle's json_extract yields NULL;
    // try_cast likewise nulls (not throws) a non-numeric value per row.
    t.events
      .select(col("event_type"), try_element_at(m, lit("k")).as("kraw"))
      .groupBy("event_type")
      .agg(
        sum(expr("try_cast(kraw AS INT)")).as("ks"),
        count(col("kraw")).as("nk"))
      .transform(sortedSmall(_, col("event_type")))
  }

  /** q42: TF-IDF top terms per document (tf × ln(N/df); df over the full
    * corpus, tf restricted to the reported docs; window top-3 to match the
    * oracle's formulation — TopKAggregator is the proven-equal scale
    * alternative). */
  def q42(t: Tables): DataFrame = {
    val tok = t.documents
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val n = t.documents.count()
    val scored = TextAnalysis.tfIdf(tok, n).filter(col("doc_id") < 10)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("w"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .transform(sortedSmall(_, col("doc_id"), col("rn")))
      .select(col("doc_id"), col("w"), Rounding.portable(col("tfidf"), 6).as("tfidf"))
  }

  val all: Map[String, Tables => DataFrame] = Map(
    "q41_json_map"           -> q41 _,
    "q42_tfidf_topterms"     -> q42 _,
    "q31_dedup_minhash_lsh"  -> q31 _,
    "q32_dedup_simhash"      -> q32 _,
    "q33_dedup_ngram_jaccard" -> q33 _,
    "q34_dedup_cosine"       -> q34 _,
    "q35_ann_ivf"            -> q35 _,
    "q36_text_langid"        -> q36 _,
    "q37_text_quality"       -> q37 _,
    "q38_token_stats"        -> q38 _,
    "q39_fingerprint"        -> q39 _,
    "q40_multimodal_decode"  -> q40 _,
    "q129_decode_quarantine" -> q129 _,
    "q80_ann_ivf_multiprobe" -> q80 _,
    "q118_semdedup" -> q118 _,
    "q89_ann_pq"             -> q89 _,
    "q131_pq_rerank"         -> q131 _,
    "q90_ann_ivf_pq"         -> q90 _,
    "q148_ivfpq_rerank"      -> q148 _,
    "q149_ivfadc_residual"   -> q149 _,
    "q151_ivfadc_rerank"     -> q151 _,
    "q152_index_ingest"      -> q152 _,
    "q153_ann_sq8"           -> q153 _,
    "q155_kmeanspp_init"     -> q155 _,
    "q156_image_dhash"       -> q156 _,
    "q159_pq_rotated"        -> q159 _,
    "q160_kmeans_pipeline"   -> q160 _,
    "q161_bm25_topk"         -> q161 _,
    "q162_matryoshka_rerank" -> q162 _,
    "q163_unigram_divergence" -> q163 _,
    "q165_silhouette"        -> q165 _,
    "q166_cohens_kappa"      -> q166 _,
    "q167_robust_stats"      -> q167 _,
    "q168_adjusted_rand"     -> q168 _,
    "q169_nmi"               -> q169 _,
    "q170_covariance"        -> q170 _,
    "q142_kmeans_train"      -> q142 _,
    "q144_bitext_margin"     -> q144 _,
  )

  /** q142's two unrolled Lloyd rounds (k = 8, first-8-by-id init, cosine
    * argmax assignment) as a shared CTE prefix — the q165/q168 oracles
    * extend it (with a `cf` final-centroid-list CTE) the same way q160's
    * oracle extends the q155 ladder. Kept textually identical to the
    * q142 oracle's own chain so a semantics change fails all three. */
  private val lloyd8x2Cte: String = """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, e AS ce
             FROM (SELECT vec_id, e FROM e ORDER BY vec_id LIMIT 8)),
      a1 AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c0 c) t WHERE rn = 1),
      x1 AS (SELECT a.cid, CAST(i AS BIGINT) AS i, e.e[i] AS x
             FROM a1 a JOIN e ON e.vec_id = a.vec_id, unnest(range(1, 65)) t(i)),
      c1 AS (SELECT cid, list(m ORDER BY i) AS ce FROM (
             SELECT cid, i, avg(x) AS m FROM x1 GROUP BY cid, i) GROUP BY cid),
      a2 AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c1 c) t WHERE rn = 1),
      x2 AS (SELECT a.cid, CAST(i AS BIGINT) AS i, e.e[i] AS x
             FROM a2 a JOIN e ON e.vec_id = a.vec_id, unnest(range(1, 65)) t(i))"""

  /** DuckDB oracles. q40's decode is real (javax.imageio pixels), but its
    * INPUT images are synthesized from doc_id under a documented
    * arithmetic contract — so the oracle re-derives format, dimensions
    * and exact channel sums from doc_id without decoding anything. */
  val oracles: Map[String, String] = Map(
    "q40_multimodal_decode" -> """
      WITH dims AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'gif' END AS format,
               CAST(8 + doc_id % 32 AS INTEGER) AS width,
               CAST(8 + doc_id % 24 AS INTEGER) AS height,
               doc_id % 256 AS ra, (doc_id*7) % 256 AS ga, (doc_id*13) % 256 AS ba,
               (doc_id*3) % 256 AS rb, (doc_id*5) % 256 AS gb, (doc_id*11) % 256 AS bb
        FROM documents)
      SELECT doc_id, format, width, height,
             CAST(width * (((height+1)//2)*ra + (height//2)*rb) AS BIGINT) AS sum_r,
             CAST(width * (((height+1)//2)*ga + (height//2)*gb) AS BIGINT) AS sum_g,
             CAST(width * (((height+1)//2)*ba + (height//2)*bb) AS BIGINT) AS sum_b
      FROM dims ORDER BY doc_id NULLS FIRST""",

    // q129: q40's arithmetic re-derivation, split by the corruption
    // fixture's doc_id classes — quarantined rows carry NULL metadata
    "q129_decode_quarantine" -> """
      WITH dims AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'gif' END AS format,
               CAST(8 + doc_id % 32 AS INTEGER) AS width,
               CAST(8 + doc_id % 24 AS INTEGER) AS height,
               doc_id % 256 AS ra, (doc_id*7) % 256 AS ga, (doc_id*13) % 256 AS ba,
               (doc_id*3) % 256 AS rb, (doc_id*5) % 256 AS gb, (doc_id*11) % 256 AS bb
        FROM documents),
      full_meta AS (
        SELECT doc_id, format, width, height,
               CAST(width * (((height+1)//2)*ra + (height//2)*rb) AS BIGINT) AS sum_r,
               CAST(width * (((height+1)//2)*ga + (height//2)*gb) AS BIGINT) AS sum_g,
               CAST(width * (((height+1)//2)*ba + (height//2)*bb) AS BIGINT) AS sum_b
        FROM dims)
      SELECT doc_id,
             CASE WHEN doc_id % 7 IN (3, 5) THEN 'quarantined' ELSE 'ok' END AS status,
             CASE WHEN doc_id % 7 = 3 THEN 'decode_error'
                  WHEN doc_id % 7 = 5 THEN 'no_reader' ELSE '' END AS reason,
             CASE WHEN doc_id % 7 IN (3, 5) THEN NULL ELSE format END AS format,
             CASE WHEN doc_id % 7 IN (3, 5) THEN NULL ELSE width END AS width,
             CASE WHEN doc_id % 7 IN (3, 5) THEN NULL ELSE height END AS height,
             CASE WHEN doc_id % 7 IN (3, 5) THEN NULL ELSE sum_r END AS sum_r,
             CASE WHEN doc_id % 7 IN (3, 5) THEN NULL ELSE sum_g END AS sum_g,
             CASE WHEN doc_id % 7 IN (3, 5) THEN NULL ELSE sum_b END AS sum_b
      FROM full_meta ORDER BY doc_id NULLS FIRST""",

    "q41_json_map" -> """
      SELECT event_type,
             CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS ks,
             count(json_extract(props, '$.k')) AS nk
      FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""",

    "q42_tfidf_topterms" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
      tf AS (SELECT doc_id, w, count(*) AS tf FROM tok WHERE w <> '' GROUP BY doc_id, w),
      dfq AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok WHERE w <> '' GROUP BY w),
      n AS (SELECT count(*) AS nd FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.w, tf.tf * ln((SELECT nd FROM n) * 1.0 / dfq.df) AS tfidf
        FROM tf JOIN dfq ON tf.w = dfq.w WHERE tf.doc_id < 10)
      SELECT doc_id, w, round(tfidf, 6) AS tfidf FROM (
        SELECT doc_id, w, tfidf,
               row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC NULLS LAST, w NULLS FIRST) AS rn
        FROM scored) t
      WHERE rn <= 3 ORDER BY doc_id NULLS FIRST, rn NULLS FIRST""",
    "q31_dedup_minhash_lsh" -> """
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
      SELECT da, db, round(est, 6) AS est FROM est WHERE est >= 0.5 ORDER BY da NULLS FIRST, db NULLS FIRST""",

    "q32_dedup_simhash" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT DISTINCT doc_id, concat(s[i], ' ', s[i+1], ' ', s[i+2]) AS w
              FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      th AS (SELECT doc_id, w, CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h32 FROM tok),
      bits AS (SELECT doc_id, b.bit,
          sum(CASE WHEN CAST(floor(h32 / power(2, b.bit)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS wgt
        FROM th, (SELECT unnest(range(0, 32)) AS bit) b GROUP BY doc_id, b.bit),
      sh AS (SELECT doc_id,
          CAST(sum(CASE WHEN wgt > 0 THEN CAST(power(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS sh
        FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS da, b.doc_id AS db, CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS dist
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3
      ORDER BY da NULLS FIRST, db NULLS FIRST""",

    "q33_dedup_ngram_jaccard" -> """
      WITH doc AS (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents),
      tok AS (SELECT DISTINCT doc_id, concat(s[i], ' ', s[i+1], ' ', s[i+2]) AS w
              FROM doc, unnest(range(1, greatest(len(s) - 1, 1))) AS t(i)),
      sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT da, db, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jacc
      FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
      ORDER BY da NULLS FIRST, db NULLS FIRST""",

    "q34_dedup_cosine" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
      SELECT a.vec_id AS va, b.vec_id AS vb, round(list_cosine_similarity(a.e, b.e), 6) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.e, b.e) >= 0.4
      ORDER BY va NULLS FIRST, vb NULLS FIRST""",

    "q35_ann_ivf" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 8),
      assign AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c) t WHERE rn = 1),
      q AS (SELECT e.vec_id AS qid, e.e AS qe, a.cid AS qc FROM e JOIN assign a ON a.vec_id = e.vec_id
            WHERE e.vec_id >= 100 AND e.vec_id < 105)
      SELECT qid, vec_id, round(sim, 6) AS sim FROM (
        SELECT q.qid, e.vec_id, list_cosine_similarity(q.qe, e.e) AS sim,
          row_number() OVER (PARTITION BY q.qid ORDER BY list_cosine_similarity(q.qe, e.e) DESC NULLS LAST, e.vec_id NULLS FIRST) AS rn
        FROM q JOIN assign a ON a.cid = q.qc AND a.vec_id <> q.qid JOIN e ON e.vec_id = a.vec_id) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q118: q35's assignment CTE with the centroid similarity kept;
    // dropped = exists a same-cluster tau-neighbor that is more diverse
    // (lower simc, vec_id tie-break); n_dups counts those neighbors
    "q118_semdedup" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 8),
      assign AS (SELECT vec_id, cid, simc FROM (
          SELECT e.vec_id, c.cid, list_cosine_similarity(e.e, c.ce) AS simc,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c) t WHERE rn = 1),
      v AS (SELECT a.cid, a.vec_id, a.simc, e.e FROM assign a JOIN e ON e.vec_id = a.vec_id),
      d AS (SELECT a.cid, a.vec_id, a.simc, count(*) AS n_dups
            FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id <> b.vec_id
            WHERE list_cosine_similarity(a.e, b.e) >= 0.4
              AND (b.simc < a.simc OR (b.simc = a.simc AND b.vec_id < a.vec_id))
            GROUP BY a.cid, a.vec_id, a.simc)
      SELECT cid, vec_id, round(simc, 6) AS simc, CAST(n_dups AS BIGINT) AS n_dups
      FROM d ORDER BY cid NULLS FIRST, vec_id NULLS FIRST""",

    // q80: q35's chain with the query side probing its 2 nearest
    // centroid buckets instead of only its own
    "q80_ann_ivf_multiprobe" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 8),
      assign AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c) t WHERE rn = 1),
      q0 AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id >= 100 AND vec_id < 105),
      probes AS (SELECT qid, qe, cid AS qc FROM (
          SELECT q0.qid, q0.qe, c.cid,
            row_number() OVER (PARTITION BY q0.qid ORDER BY list_cosine_similarity(q0.qe, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS pn
          FROM q0, c) t WHERE pn <= 2)
      SELECT qid, vec_id, round(sim, 6) AS sim FROM (
        SELECT p.qid, e.vec_id, list_cosine_similarity(p.qe, e.e) AS sim,
          row_number() OVER (PARTITION BY p.qid ORDER BY list_cosine_similarity(p.qe, e.e) DESC NULLS LAST, e.vec_id NULLS FIRST) AS rn
        FROM probes p JOIN assign a ON a.cid = p.qc AND a.vec_id <> p.qid JOIN e ON e.vec_id = a.vec_id) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q89: PQ — init-only sub-codebooks (first 16 vectors), argmin
    // encode per subspace, reconstruction = ordered concat of chosen
    // entries, ADC = L2 query vs reconstruction (list_distance matches
    // the native l2_distance bit-for-bit: same sequential accumulation)
    "q89_ann_pq" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      cb AS (SELECT j, vec_id AS code, e[(j-1)*16+1 : j*16] AS sub
             FROM e, unnest(range(1, 5)) AS t(j) WHERE vec_id < 16),
      sl AS (SELECT vec_id, j, e[(j-1)*16+1 : j*16] AS vsub
             FROM e, unnest(range(1, 5)) AS t(j)),
      codes AS (SELECT vec_id, j, code FROM (
          SELECT sl.vec_id, sl.j, cb.code,
            row_number() OVER (PARTITION BY sl.vec_id, sl.j
              ORDER BY list_distance(sl.vsub, cb.sub) NULLS LAST, cb.code NULLS FIRST) AS rn
          FROM sl JOIN cb ON cb.j = sl.j) t WHERE rn = 1),
      recon AS (SELECT c.vec_id, flatten(list(cb.sub ORDER BY c.j)) AS re
                FROM codes c JOIN cb ON cb.j = c.j AND cb.code = c.code
                GROUP BY c.vec_id),
      q AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id >= 100 AND vec_id < 105)
      SELECT qid, vec_id, round(adist, 6) AS adist, CAST(rn AS BIGINT) AS rn FROM (
        SELECT q.qid, r.vec_id, list_distance(q.qe, r.re) AS adist,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY list_distance(q.qe, r.re) NULLS LAST, r.vec_id NULLS FIRST) AS rn
        FROM q JOIN recon r ON r.vec_id <> q.qid) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q131: q89's recon CTEs + the two-stage cut — ADC keeps top
    // k*mult=12 per query by (adist, vec_id), the survivors re-rank by
    // EXACT L2 against the original vectors
    "q131_pq_rerank" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      cb AS (SELECT j, vec_id AS code, e[(j-1)*16+1 : j*16] AS sub
             FROM e, unnest(range(1, 5)) AS t(j) WHERE vec_id < 16),
      sl AS (SELECT vec_id, j, e[(j-1)*16+1 : j*16] AS vsub
             FROM e, unnest(range(1, 5)) AS t(j)),
      codes AS (SELECT vec_id, j, code FROM (
          SELECT sl.vec_id, sl.j, cb.code,
            row_number() OVER (PARTITION BY sl.vec_id, sl.j
              ORDER BY list_distance(sl.vsub, cb.sub) NULLS LAST, cb.code NULLS FIRST) AS rn
          FROM sl JOIN cb ON cb.j = sl.j) t WHERE rn = 1),
      recon AS (SELECT c.vec_id, flatten(list(cb.sub ORDER BY c.j)) AS re
                FROM codes c JOIN cb ON cb.j = c.j AND cb.code = c.code
                GROUP BY c.vec_id),
      q AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id >= 100 AND vec_id < 105),
      cand AS (SELECT qid, vec_id FROM (
          SELECT q.qid, r.vec_id,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY list_distance(q.qe, r.re) NULLS LAST, r.vec_id NULLS FIRST) AS crn
          FROM q JOIN recon r ON r.vec_id <> q.qid) t
        WHERE crn <= 12)
      SELECT qid, vec_id, round(adist, 6) AS adist, CAST(rn AS BIGINT) AS rn FROM (
        SELECT q.qid, cand.vec_id, list_distance(q.qe, e.e) AS adist,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY list_distance(q.qe, e.e) NULLS LAST, cand.vec_id NULLS FIRST) AS rn
        FROM cand JOIN q USING (qid) JOIN e ON e.vec_id = cand.vec_id) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q148: q90's bucket-restricted ADC candidates (crn <= 12) + q131's
    // exact rerank tail over just those candidates
    "q148_ivfpq_rerank" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 8),
      assign AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c) t WHERE rn = 1),
      cb AS (SELECT j, vec_id AS code, e[(j-1)*16+1 : j*16] AS sub
             FROM e, unnest(range(1, 5)) AS t(j) WHERE vec_id < 16),
      sl AS (SELECT vec_id, j, e[(j-1)*16+1 : j*16] AS vsub
             FROM e, unnest(range(1, 5)) AS t(j)),
      codes AS (SELECT vec_id, j, code FROM (
          SELECT sl.vec_id, sl.j, cb.code,
            row_number() OVER (PARTITION BY sl.vec_id, sl.j
              ORDER BY list_distance(sl.vsub, cb.sub) NULLS LAST, cb.code NULLS FIRST) AS rn
          FROM sl JOIN cb ON cb.j = sl.j) t WHERE rn = 1),
      recon AS (SELECT c2.vec_id, flatten(list(cb.sub ORDER BY c2.j)) AS re
                FROM codes c2 JOIN cb ON cb.j = c2.j AND cb.code = c2.code
                GROUP BY c2.vec_id),
      q0 AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id >= 100 AND vec_id < 105),
      probes AS (SELECT qid, qe, cid AS qc FROM (
          SELECT q0.qid, q0.qe, c.cid,
            row_number() OVER (PARTITION BY q0.qid ORDER BY list_cosine_similarity(q0.qe, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS pn
          FROM q0, c) t WHERE pn <= 2),
      cand AS (SELECT qid, vec_id FROM (
          SELECT p.qid, r.vec_id,
            row_number() OVER (PARTITION BY p.qid
              ORDER BY list_distance(p.qe, r.re) NULLS LAST, r.vec_id NULLS FIRST) AS crn
          FROM probes p JOIN assign a ON a.cid = p.qc AND a.vec_id <> p.qid
          JOIN recon r ON r.vec_id = a.vec_id) t
        WHERE crn <= 12)
      SELECT qid, vec_id, round(adist, 6) AS adist, CAST(rn AS BIGINT) AS rn FROM (
        SELECT q0.qid, cand.vec_id, list_distance(q0.qe, e.e) AS adist,
          row_number() OVER (PARTITION BY q0.qid
            ORDER BY list_distance(q0.qe, e.e) NULLS LAST, cand.vec_id NULLS FIRST) AS rn
        FROM cand JOIN q0 USING (qid) JOIN e ON e.vec_id = cand.vec_id) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q149: q90 with the codebook/encode/reconstruct CTEs computed over
    // RESIDUALS (e - assigned centroid), the centroid added back before
    // the ADC ranking — element-wise list lambdas mirror zip_with
    "q149_ivfadc_residual" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 8),
      assign AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c) t WHERE rn = 1),
      resid AS (SELECT e.vec_id,
                  list_transform(range(1, 65), i -> e.e[i] - c.ce[i]) AS r,
                  c.ce AS ce
                FROM e JOIN assign a ON a.vec_id = e.vec_id
                JOIN c ON c.cid = a.cid),
      cb AS (SELECT j, vec_id - 8 AS code, r[(j-1)*16+1 : j*16] AS sub
             FROM resid, unnest(range(1, 5)) AS t(j)
             WHERE vec_id >= 8 AND vec_id < 24),
      sl AS (SELECT vec_id, j, r[(j-1)*16+1 : j*16] AS vsub
             FROM resid, unnest(range(1, 5)) AS t(j)),
      codes AS (SELECT vec_id, j, code FROM (
          SELECT sl.vec_id, sl.j, cb.code,
            row_number() OVER (PARTITION BY sl.vec_id, sl.j
              ORDER BY list_distance(sl.vsub, cb.sub) NULLS LAST, cb.code NULLS FIRST) AS rn
          FROM sl JOIN cb ON cb.j = sl.j) t WHERE rn = 1),
      reconr AS (SELECT c2.vec_id, flatten(list(cb.sub ORDER BY c2.j)) AS rr
                 FROM codes c2 JOIN cb ON cb.j = c2.j AND cb.code = c2.code
                 GROUP BY c2.vec_id),
      recon AS (SELECT reconr.vec_id,
                  list_transform(range(1, 65), i -> reconr.rr[i] + resid.ce[i]) AS re
                FROM reconr JOIN resid ON resid.vec_id = reconr.vec_id),
      q0 AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id >= 100 AND vec_id < 105),
      probes AS (SELECT qid, qe, cid AS qc FROM (
          SELECT q0.qid, q0.qe, c.cid,
            row_number() OVER (PARTITION BY q0.qid ORDER BY list_cosine_similarity(q0.qe, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS pn
          FROM q0, c) t WHERE pn <= 2)
      SELECT qid, vec_id, round(adist, 6) AS adist, CAST(rn AS BIGINT) AS rn FROM (
        SELECT p.qid, r.vec_id, list_distance(p.qe, r.re) AS adist,
          row_number() OVER (PARTITION BY p.qid
            ORDER BY list_distance(p.qe, r.re) NULLS LAST, r.vec_id NULLS FIRST) AS rn
        FROM probes p JOIN assign a ON a.cid = p.qc AND a.vec_id <> p.qid
        JOIN recon r ON r.vec_id = a.vec_id) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q151: q149's residual CTE chain through `recon`, then q148's
    // candidate-cut + exact-rerank tail — the two independent
    // derivations spliced at the reconstruction boundary
    "q151_ivfadc_rerank" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 8),
      assign AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c) t WHERE rn = 1),
      resid AS (SELECT e.vec_id,
                  list_transform(range(1, 65), i -> e.e[i] - c.ce[i]) AS r,
                  c.ce AS ce
                FROM e JOIN assign a ON a.vec_id = e.vec_id
                JOIN c ON c.cid = a.cid),
      cb AS (SELECT j, vec_id - 8 AS code, r[(j-1)*16+1 : j*16] AS sub
             FROM resid, unnest(range(1, 5)) AS t(j)
             WHERE vec_id >= 8 AND vec_id < 24),
      sl AS (SELECT vec_id, j, r[(j-1)*16+1 : j*16] AS vsub
             FROM resid, unnest(range(1, 5)) AS t(j)),
      codes AS (SELECT vec_id, j, code FROM (
          SELECT sl.vec_id, sl.j, cb.code,
            row_number() OVER (PARTITION BY sl.vec_id, sl.j
              ORDER BY list_distance(sl.vsub, cb.sub) NULLS LAST, cb.code NULLS FIRST) AS rn
          FROM sl JOIN cb ON cb.j = sl.j) t WHERE rn = 1),
      reconr AS (SELECT c2.vec_id, flatten(list(cb.sub ORDER BY c2.j)) AS rr
                 FROM codes c2 JOIN cb ON cb.j = c2.j AND cb.code = c2.code
                 GROUP BY c2.vec_id),
      recon AS (SELECT reconr.vec_id,
                  list_transform(range(1, 65), i -> reconr.rr[i] + resid.ce[i]) AS re
                FROM reconr JOIN resid ON resid.vec_id = reconr.vec_id),
      q0 AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id >= 100 AND vec_id < 105),
      probes AS (SELECT qid, qe, cid AS qc FROM (
          SELECT q0.qid, q0.qe, c.cid,
            row_number() OVER (PARTITION BY q0.qid ORDER BY list_cosine_similarity(q0.qe, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS pn
          FROM q0, c) t WHERE pn <= 2),
      cand AS (SELECT qid, vec_id FROM (
          SELECT p.qid, r.vec_id,
            row_number() OVER (PARTITION BY p.qid
              ORDER BY list_distance(p.qe, r.re) NULLS LAST, r.vec_id NULLS FIRST) AS crn
          FROM probes p JOIN assign a ON a.cid = p.qc AND a.vec_id <> p.qid
          JOIN recon r ON r.vec_id = a.vec_id) t
        WHERE crn <= 12)
      SELECT qid, vec_id, round(adist, 6) AS adist, CAST(rn AS BIGINT) AS rn FROM (
        SELECT q0.qid, cand.vec_id, list_distance(q0.qe, e.e) AS adist,
          row_number() OVER (PARTITION BY q0.qid
            ORDER BY list_distance(q0.qe, e.e) NULLS LAST, cand.vec_id NULLS FIRST) AS rn
        FROM cand JOIN q0 USING (qid) JOIN e ON e.vec_id = cand.vec_id) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q152: the batch assigned/encoded against centroid + codebook CTEs
    // drawn entirely from the indexed remainder — the corpus never
    // appears outside the artifact derivations
    "q152_index_ingest" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      idx AS (SELECT vec_id, e FROM e WHERE vec_id % 50 <> 0),
      batch AS (SELECT vec_id, e FROM e WHERE vec_id % 50 = 0),
      c AS (SELECT vec_id AS cid, e AS ce FROM idx WHERE vec_id >= 1 AND vec_id < 9),
      assign AS (SELECT vec_id, cid FROM (
          SELECT b.vec_id, c.cid,
            row_number() OVER (PARTITION BY b.vec_id ORDER BY list_cosine_similarity(b.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM batch b, c) t WHERE rn = 1),
      cb AS (SELECT j, vec_id - 1 AS code, e[(j-1)*16+1 : j*16] AS sub
             FROM idx, unnest(range(1, 5)) AS t(j)
             WHERE vec_id >= 1 AND vec_id < 17),
      sl AS (SELECT vec_id, j, e[(j-1)*16+1 : j*16] AS vsub
             FROM batch, unnest(range(1, 5)) AS t(j)),
      codes AS (SELECT vec_id, j, code FROM (
          SELECT sl.vec_id, sl.j, cb.code,
            row_number() OVER (PARTITION BY sl.vec_id, sl.j
              ORDER BY list_distance(sl.vsub, cb.sub) NULLS LAST, cb.code NULLS FIRST) AS rn
          FROM sl JOIN cb ON cb.j = sl.j) t WHERE rn = 1)
      SELECT a.vec_id, a.cid, CAST(c2.j AS BIGINT) AS j, CAST(c2.code AS BIGINT) AS code
      FROM codes c2 JOIN assign a ON a.vec_id = c2.vec_id
      ORDER BY a.vec_id NULLS FIRST, j NULLS FIRST""",

    // q153: SQ8 — per-dim min/max stats, independent 8-bit cell per
    // dimension (floor/clamp arithmetic mirrored op-for-op), midpoint
    // reconstruction, then q89's ADC ranking unchanged
    "q153_ann_sq8" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      st AS (SELECT i, min(e[i]) AS mn, max(e[i]) AS mx
             FROM e, unnest(range(1, 65)) AS t(i) GROUP BY i),
      codes AS (SELECT e.vec_id, st.i,
             CASE WHEN st.mx = st.mn THEN 0
                  ELSE least(255, CAST(floor(((e.e[st.i] - st.mn) / (st.mx - st.mn)) * 256) AS BIGINT)) END AS c
             FROM e, st),
      recon AS (SELECT cd.vec_id,
                list(st.mn + (cd.c + 0.5) * ((st.mx - st.mn) / 256.0) ORDER BY cd.i) AS re
                FROM codes cd JOIN st ON st.i = cd.i
                GROUP BY cd.vec_id),
      q AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id >= 100 AND vec_id < 105)
      SELECT qid, vec_id, round(adist, 6) AS adist, CAST(rn AS BIGINT) AS rn FROM (
        SELECT q.qid, r.vec_id, list_distance(q.qe, r.re) AS adist,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY list_distance(q.qe, r.re) NULLS LAST, r.vec_id NULLS FIRST) AS rn
        FROM q JOIN recon r ON r.vec_id <> q.qid) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q156: pixels -> cell sums -> dHash bits -> 16-bit bands ->
    // banded candidates -> exact Hamming <= 3, all re-derived from
    // doc_id arithmetic (the q40 no-codec-oracle discipline); the hash
    // lives as two exact 32-bit halves (bit 63 would overflow a BIGINT
    // power sum), hamming = the halves' bit_count sum
    "q156_image_dhash" -> """
      WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7),
      pix AS (SELECT d.doc_id, xx.x, yy.y,
               CASE WHEN ((d.doc_id % 40) // 10) > 0
                     AND xx.x = 2 * ((d.doc_id % 40) // 10)
                     AND yy.y = 2 * ((d.doc_id % 40) // 10) + 1
                    THEN (((d.doc_id // 40) * 37 + xx.x * 13 + yy.y * 29) % 251 + 96) % 256
                    ELSE ((d.doc_id // 40) * 37 + xx.x * 13 + yy.y * 29) % 251 END AS v
              FROM d,
                   (SELECT unnest(range(0, 18)) AS x) xx,
                   (SELECT unnest(range(0, 16)) AS y) yy),
      cells AS (SELECT doc_id, (y // 2) * 9 + (x // 2) AS ci,
                CAST(sum(v) AS BIGINT) AS s
                FROM pix GROUP BY doc_id, (y // 2) * 9 + (x // 2)),
      bits AS (SELECT c1.doc_id, bb.b,
                CASE WHEN c1.s > c2.s THEN 1 ELSE 0 END AS bit
               FROM (SELECT unnest(range(0, 64)) AS b) bb
               JOIN cells c1 ON c1.ci = (bb.b // 8) * 9 + (bb.b % 8)
               JOIN cells c2 ON c2.doc_id = c1.doc_id
                            AND c2.ci = (bb.b // 8) * 9 + (bb.b % 8) + 1),
      halves AS (SELECT doc_id, b // 32 AS hf,
                 CAST(sum(bit * power(2, b % 32)) AS BIGINT) AS h
                 FROM bits GROUP BY doc_id, b // 32),
      bands AS (SELECT doc_id, b // 16 AS bi,
                CAST(sum(bit * power(2, b % 16)) AS BIGINT) AS bv
                FROM bits GROUP BY doc_id, b // 16),
      cand AS (SELECT DISTINCT a.doc_id AS da, b2.doc_id AS db
               FROM bands a JOIN bands b2
                 ON b2.bi = a.bi AND b2.bv = a.bv AND a.doc_id < b2.doc_id)
      SELECT da, db,
        CAST(bit_count(xor(la.h, lb.h)) + bit_count(xor(ha.h, hb.h)) AS BIGINT) AS dist
      FROM cand
      JOIN halves la ON la.doc_id = da AND la.hf = 0
      JOIN halves lb ON lb.doc_id = db AND lb.hf = 0
      JOIN halves ha ON ha.doc_id = da AND ha.hf = 1
      JOIN halves hb ON hb.doc_id = db AND hb.hf = 1
      WHERE bit_count(xor(la.h, lb.h)) + bit_count(xor(ha.h, hb.h)) <= 3
      ORDER BY da NULLS FIRST, db NULLS FIRST""",

    // q159: permutation + signs re-derived from the md5 rank (never
    // interpolated literals), rotation as an ordered-list rebuild, then
    // q89's PQ chain verbatim over the rotated space
    "q159_pq_rotated" -> """
      WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      u AS (SELECT i, CAST(concat('0x', substr(md5(concat('spr|', CAST(i AS VARCHAR))), 1, 8)) AS BIGINT) AS u
            FROM range(0, 64) t(i)),
      p AS (SELECT i AS src, CAST(row_number() OVER (ORDER BY u, i) AS BIGINT) AS j,
                   CASE WHEN u % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
            FROM u),
      e AS (SELECT e0.vec_id, list(e0.e[p.src + 1] * p.sgn ORDER BY p.j) AS e
            FROM e0, p GROUP BY e0.vec_id),
      cb AS (SELECT j, vec_id AS code, e[(j-1)*16+1 : j*16] AS sub
             FROM e, unnest(range(1, 5)) AS t(j) WHERE vec_id < 16),
      sl AS (SELECT vec_id, j, e[(j-1)*16+1 : j*16] AS vsub
             FROM e, unnest(range(1, 5)) AS t(j)),
      codes AS (SELECT vec_id, j, code FROM (
          SELECT sl.vec_id, sl.j, cb.code,
            row_number() OVER (PARTITION BY sl.vec_id, sl.j
              ORDER BY list_distance(sl.vsub, cb.sub) NULLS LAST, cb.code NULLS FIRST) AS rn
          FROM sl JOIN cb ON cb.j = sl.j) t WHERE rn = 1),
      recon AS (SELECT c.vec_id, flatten(list(cb.sub ORDER BY c.j)) AS re
                FROM codes c JOIN cb ON cb.j = c.j AND cb.code = c.code
                GROUP BY c.vec_id),
      q AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id >= 100 AND vec_id < 105)
      SELECT qid, vec_id, round(adist, 6) AS adist, CAST(rn AS BIGINT) AS rn FROM (
        SELECT q.qid, r.vec_id, list_distance(q.qe, r.re) AS adist,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY list_distance(q.qe, r.re) NULLS LAST, r.vec_id NULLS FIRST) AS rn
        FROM q JOIN recon r ON r.vec_id <> q.qid) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q155: the k-means|| trajectory replayed — hash-min first seed,
    // two oversampling rounds (integer threshold vs md5 draw, the
    // operator's exact arithmetic), attracted-count weights, and the
    // 4-step weighted farthest-first selection unrolled
    "q155_kmeanspp_init" -> """
      WITH ev AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      u0 AS MATERIALIZED (SELECT vec_id, e,
              CAST(concat('0x', substr(md5(concat('kmpp|0|', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT) AS u
             FROM ev),
      c0 AS MATERIALIZED (SELECT vec_id, e FROM (
              SELECT vec_id, e, row_number() OVER (ORDER BY u, vec_id) AS rn FROM u0) t
             WHERE rn = 1),
      r1 AS MATERIALIZED (SELECT x.vec_id, min(list_distance(x.e, c.e)) AS ld
             FROM ev x, c0 c GROUP BY x.vec_id),
      r1i AS MATERIALIZED (SELECT vec_id, CAST(floor(ld * ld * 1e6 + 0.5) AS BIGINT) AS d2i FROM r1),
      p1 AS MATERIALIZED (SELECT CAST(coalesce(sum(d2i), 0) AS BIGINT) AS phi FROM r1i),
      s1 AS MATERIALIZED (SELECT ev.vec_id, ev.e FROM ev, r1i, p1
             WHERE ev.vec_id = r1i.vec_id
               AND (CAST(concat('0x', substr(md5(concat('kmpp|1|', CAST(ev.vec_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000)
                 < (CASE WHEN p1.phi = 0 THEN 0
                    ELSE least(1000000, CAST(floor((4000000 * r1i.d2i) / p1.phi) AS BIGINT)) END)),
      c1 AS MATERIALIZED (SELECT vec_id, e FROM c0 UNION ALL SELECT vec_id, e FROM s1),
      r2 AS MATERIALIZED (SELECT x.vec_id, min(list_distance(x.e, c.e)) AS ld
             FROM ev x, c1 c GROUP BY x.vec_id),
      r2i AS MATERIALIZED (SELECT vec_id, CAST(floor(ld * ld * 1e6 + 0.5) AS BIGINT) AS d2i FROM r2),
      p2 AS MATERIALIZED (SELECT CAST(coalesce(sum(d2i), 0) AS BIGINT) AS phi FROM r2i),
      s2 AS MATERIALIZED (SELECT ev.vec_id, ev.e FROM ev, r2i, p2
             WHERE ev.vec_id = r2i.vec_id
               AND (CAST(concat('0x', substr(md5(concat('kmpp|2|', CAST(ev.vec_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000)
                 < (CASE WHEN p2.phi = 0 THEN 0
                    ELSE least(1000000, CAST(floor((4000000 * r2i.d2i) / p2.phi) AS BIGINT)) END)),
      c2 AS MATERIALIZED (SELECT vec_id, e FROM c1 UNION ALL SELECT vec_id, e FROM s2),
      cw AS MATERIALIZED (SELECT cid, CAST(count(*) AS BIGINT) AS w FROM (
              SELECT x.vec_id, c.cid, row_number() OVER (PARTITION BY x.vec_id
                ORDER BY list_distance(x.e, c.ce) NULLS LAST, c.cid NULLS FIRST) AS rn
              FROM ev x, (SELECT vec_id AS cid, e AS ce FROM c2) c) t
             WHERE rn = 1 GROUP BY cid),
      cand AS MATERIALIZED (SELECT c2.vec_id AS src_id, c2.e AS ce, coalesce(cw.w, 0) AS w
               FROM c2 LEFT JOIN cw ON cw.cid = c2.vec_id),
      sel1 AS MATERIALIZED (SELECT src_id, ce, w FROM cand ORDER BY w DESC, src_id LIMIT 1),
      rem1 AS MATERIALIZED (SELECT * FROM cand WHERE src_id NOT IN (SELECT src_id FROM sel1)),
      m2 AS MATERIALIZED (SELECT r.src_id, min(list_distance(r.ce, s.ce)) AS mind
             FROM rem1 r, sel1 s GROUP BY r.src_id),
      sel2 AS MATERIALIZED (SELECT r.src_id, r.ce, r.w FROM rem1 r JOIN m2 ON m2.src_id = r.src_id
               ORDER BY CAST(r.w AS DOUBLE) * (m2.mind * m2.mind) DESC, r.src_id LIMIT 1),
      rem2 AS MATERIALIZED (SELECT * FROM rem1 WHERE src_id NOT IN (SELECT src_id FROM sel2)),
      m3 AS MATERIALIZED (SELECT r.src_id, min(list_distance(r.ce, s.ce)) AS mind
             FROM rem2 r, (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2) s
             GROUP BY r.src_id),
      sel3 AS MATERIALIZED (SELECT r.src_id, r.ce, r.w FROM rem2 r JOIN m3 ON m3.src_id = r.src_id
               ORDER BY CAST(r.w AS DOUBLE) * (m3.mind * m3.mind) DESC, r.src_id LIMIT 1),
      rem3 AS MATERIALIZED (SELECT * FROM rem2 WHERE src_id NOT IN (SELECT src_id FROM sel3)),
      m4 AS MATERIALIZED (SELECT r.src_id, min(list_distance(r.ce, s.ce)) AS mind
             FROM rem3 r, (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
                           UNION ALL SELECT * FROM sel3) s
             GROUP BY r.src_id),
      sel4 AS MATERIALIZED (SELECT r.src_id, r.ce, r.w FROM rem3 r JOIN m4 ON m4.src_id = r.src_id
               ORDER BY CAST(r.w AS DOUBLE) * (m4.mind * m4.mind) DESC, r.src_id LIMIT 1),
      sel AS MATERIALIZED (SELECT src_id, 0 AS rank FROM sel1 UNION ALL SELECT src_id, 1 FROM sel2
              UNION ALL SELECT src_id, 2 FROM sel3 UNION ALL SELECT src_id, 3 FROM sel4)
      SELECT c.src_id, c.w AS weight, CAST(s.rank AS BIGINT) AS rank
      FROM cand c LEFT JOIN sel s ON s.src_id = c.src_id
      ORDER BY c.src_id NULLS FIRST""",

    // q90: q80's probe CTE composed with q89's recon CTE — bucket-
    // restricted ADC ranking
    "q90_ann_ivf_pq" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 8),
      assign AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c) t WHERE rn = 1),
      cb AS (SELECT j, vec_id AS code, e[(j-1)*16+1 : j*16] AS sub
             FROM e, unnest(range(1, 5)) AS t(j) WHERE vec_id < 16),
      sl AS (SELECT vec_id, j, e[(j-1)*16+1 : j*16] AS vsub
             FROM e, unnest(range(1, 5)) AS t(j)),
      codes AS (SELECT vec_id, j, code FROM (
          SELECT sl.vec_id, sl.j, cb.code,
            row_number() OVER (PARTITION BY sl.vec_id, sl.j
              ORDER BY list_distance(sl.vsub, cb.sub) NULLS LAST, cb.code NULLS FIRST) AS rn
          FROM sl JOIN cb ON cb.j = sl.j) t WHERE rn = 1),
      recon AS (SELECT c2.vec_id, flatten(list(cb.sub ORDER BY c2.j)) AS re
                FROM codes c2 JOIN cb ON cb.j = c2.j AND cb.code = c2.code
                GROUP BY c2.vec_id),
      q0 AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id >= 100 AND vec_id < 105),
      probes AS (SELECT qid, qe, cid AS qc FROM (
          SELECT q0.qid, q0.qe, c.cid,
            row_number() OVER (PARTITION BY q0.qid ORDER BY list_cosine_similarity(q0.qe, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS pn
          FROM q0, c) t WHERE pn <= 2)
      SELECT qid, vec_id, round(adist, 6) AS adist, CAST(rn AS BIGINT) AS rn FROM (
        SELECT p.qid, r.vec_id, list_distance(p.qe, r.re) AS adist,
          row_number() OVER (PARTITION BY p.qid
            ORDER BY list_distance(p.qe, r.re) NULLS LAST, r.vec_id NULLS FIRST) AS rn
        FROM probes p JOIN assign a ON a.cid = p.qc AND a.vec_id <> p.qid
        JOIN recon r ON r.vec_id = a.vec_id) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    "q36_text_langid" -> """
      WITH tok AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w FROM documents),
      sc AS (SELECT doc_id, lang,
          sum(CASE WHEN w IN ('the', 'a', 'of', 'and', 'to', 'is') THEN 1 ELSE 0 END) AS s_en,
          sum(CASE WHEN w IN ('der', 'die', 'das', 'und', 'ist', 'nicht') THEN 1 ELSE 0 END) AS s_de,
          sum(CASE WHEN w IN ('el', 'la', 'de', 'los', 'y', 'es') THEN 1 ELSE 0 END) AS s_es,
          sum(CASE WHEN w IN ('le', 'les', 'et', 'des', 'un', 'est') THEN 1 ELSE 0 END) AS s_fr
        FROM tok GROUP BY doc_id, lang),
      pred AS (SELECT doc_id, lang,
          CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
               WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
               WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
               WHEN s_fr > 0 THEN 'fr'
               ELSE 'unknown' END AS pred
        FROM sc)
      SELECT lang, pred, count(*) AS n FROM pred GROUP BY lang, pred ORDER BY lang NULLS FIRST, pred NULLS FIRST""",

    "q37_text_quality" -> """
      WITH doc AS (SELECT doc_id, source, n_chars FROM documents),
      tok AS (SELECT doc_id, count(*) AS n_tok, count(DISTINCT w) AS n_uniq, avg(length(w)) AS avg_wlen
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t
        WHERE w <> '' GROUP BY doc_id)
      SELECT d.source, count(*) AS docs,
          round(avg(t.n_tok), 4) AS avg_tokens,
          round(avg(t.n_uniq * 1.0 / t.n_tok), 6) AS avg_ttr,
          round(avg(t.avg_wlen), 6) AS avg_wlen,
          CAST(sum(CASE WHEN d.n_chars < 300 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
      FROM doc d JOIN tok t ON t.doc_id = d.doc_id
      GROUP BY d.source ORDER BY d.source NULLS FIRST""",

    "q38_token_stats" -> """
      WITH tok AS (SELECT lang, w, length(w) AS wl
        FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents) t
        WHERE w <> '')
      SELECT lang, count(*) AS n_tokens,
          CAST(sum(CAST(ceil(wl / 4.0) AS BIGINT)) AS BIGINT) AS n_subwords,
          CAST(sum(wl) AS BIGINT) AS n_chars,
          count(DISTINCT w) AS vocab
      FROM tok GROUP BY lang ORDER BY lang NULLS FIRST""",

    "q39_fingerprint" -> """
      WITH tok AS (SELECT DISTINCT doc_id, w FROM (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t WHERE w <> ''),
      fp AS (SELECT doc_id, md5(string_agg(w, ' ' ORDER BY w NULLS FIRST)) AS fp FROM tok GROUP BY doc_id)
      SELECT count(*) AS docs, count(DISTINCT fp) AS uniq_fp,
          CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS collapsed
      FROM fp""",

    // q160: q155's full init ladder (first seed, two oversampling
    // rounds, weights, 4-step farthest-first selection — identical CTE
    // text) extended by q142's two Lloyd layers seeded from the selected
    // ranks, closed by the final assignment census
    "q160_kmeans_pipeline" -> """
      WITH ev AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      u0 AS MATERIALIZED (SELECT vec_id, e,
              CAST(concat('0x', substr(md5(concat('kmpp|0|', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT) AS u
             FROM ev),
      k0 AS MATERIALIZED (SELECT vec_id, e FROM (
              SELECT vec_id, e, row_number() OVER (ORDER BY u, vec_id) AS rn FROM u0) t
             WHERE rn = 1),
      r1 AS MATERIALIZED (SELECT x.vec_id, min(list_distance(x.e, c.e)) AS ld
             FROM ev x, k0 c GROUP BY x.vec_id),
      r1i AS MATERIALIZED (SELECT vec_id, CAST(floor(ld * ld * 1e6 + 0.5) AS BIGINT) AS d2i FROM r1),
      p1 AS MATERIALIZED (SELECT CAST(coalesce(sum(d2i), 0) AS BIGINT) AS phi FROM r1i),
      s1 AS MATERIALIZED (SELECT ev.vec_id, ev.e FROM ev, r1i, p1
             WHERE ev.vec_id = r1i.vec_id
               AND (CAST(concat('0x', substr(md5(concat('kmpp|1|', CAST(ev.vec_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000)
                 < (CASE WHEN p1.phi = 0 THEN 0
                    ELSE least(1000000, CAST(floor((4000000 * r1i.d2i) / p1.phi) AS BIGINT)) END)),
      k1 AS MATERIALIZED (SELECT vec_id, e FROM k0 UNION ALL SELECT vec_id, e FROM s1),
      r2 AS MATERIALIZED (SELECT x.vec_id, min(list_distance(x.e, c.e)) AS ld
             FROM ev x, k1 c GROUP BY x.vec_id),
      r2i AS MATERIALIZED (SELECT vec_id, CAST(floor(ld * ld * 1e6 + 0.5) AS BIGINT) AS d2i FROM r2),
      p2 AS MATERIALIZED (SELECT CAST(coalesce(sum(d2i), 0) AS BIGINT) AS phi FROM r2i),
      s2 AS MATERIALIZED (SELECT ev.vec_id, ev.e FROM ev, r2i, p2
             WHERE ev.vec_id = r2i.vec_id
               AND (CAST(concat('0x', substr(md5(concat('kmpp|2|', CAST(ev.vec_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000)
                 < (CASE WHEN p2.phi = 0 THEN 0
                    ELSE least(1000000, CAST(floor((4000000 * r2i.d2i) / p2.phi) AS BIGINT)) END)),
      k2 AS MATERIALIZED (SELECT vec_id, e FROM k1 UNION ALL SELECT vec_id, e FROM s2),
      cw AS MATERIALIZED (SELECT cid, CAST(count(*) AS BIGINT) AS w FROM (
              SELECT x.vec_id, c.cid, row_number() OVER (PARTITION BY x.vec_id
                ORDER BY list_distance(x.e, c.ce) NULLS LAST, c.cid NULLS FIRST) AS rn
              FROM ev x, (SELECT vec_id AS cid, e AS ce FROM k2) c) t
             WHERE rn = 1 GROUP BY cid),
      cand AS MATERIALIZED (SELECT k2.vec_id AS src_id, k2.e AS ce, coalesce(cw.w, 0) AS w
               FROM k2 LEFT JOIN cw ON cw.cid = k2.vec_id),
      sel1 AS MATERIALIZED (SELECT src_id, ce, w FROM cand ORDER BY w DESC, src_id LIMIT 1),
      rem1 AS MATERIALIZED (SELECT * FROM cand WHERE src_id NOT IN (SELECT src_id FROM sel1)),
      m2 AS MATERIALIZED (SELECT r.src_id, min(list_distance(r.ce, s.ce)) AS mind
             FROM rem1 r, sel1 s GROUP BY r.src_id),
      sel2 AS MATERIALIZED (SELECT r.src_id, r.ce, r.w FROM rem1 r JOIN m2 ON m2.src_id = r.src_id
               ORDER BY CAST(r.w AS DOUBLE) * (m2.mind * m2.mind) DESC, r.src_id LIMIT 1),
      rem2 AS MATERIALIZED (SELECT * FROM rem1 WHERE src_id NOT IN (SELECT src_id FROM sel2)),
      m3 AS MATERIALIZED (SELECT r.src_id, min(list_distance(r.ce, s.ce)) AS mind
             FROM rem2 r, (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2) s
             GROUP BY r.src_id),
      sel3 AS MATERIALIZED (SELECT r.src_id, r.ce, r.w FROM rem2 r JOIN m3 ON m3.src_id = r.src_id
               ORDER BY CAST(r.w AS DOUBLE) * (m3.mind * m3.mind) DESC, r.src_id LIMIT 1),
      rem3 AS MATERIALIZED (SELECT * FROM rem2 WHERE src_id NOT IN (SELECT src_id FROM sel3)),
      m4 AS MATERIALIZED (SELECT r.src_id, min(list_distance(r.ce, s.ce)) AS mind
             FROM rem3 r, (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
                           UNION ALL SELECT * FROM sel3) s
             GROUP BY r.src_id),
      sel4 AS MATERIALIZED (SELECT r.src_id, r.ce, r.w FROM rem3 r JOIN m4 ON m4.src_id = r.src_id
               ORDER BY CAST(r.w AS DOUBLE) * (m4.mind * m4.mind) DESC, r.src_id LIMIT 1),
      c0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS cid, ce FROM sel1
             UNION ALL SELECT 1, ce FROM sel2
             UNION ALL SELECT 2, ce FROM sel3
             UNION ALL SELECT 3, ce FROM sel4),
      a1 AS MATERIALIZED (SELECT vec_id, cid FROM (
          SELECT x.vec_id, c.cid,
            row_number() OVER (PARTITION BY x.vec_id
              ORDER BY list_cosine_similarity(x.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM ev x, c0 c) t WHERE rn = 1),
      x1 AS MATERIALIZED (SELECT a.cid, CAST(i AS BIGINT) AS i, e.e[i] AS x
             FROM a1 a JOIN ev e ON e.vec_id = a.vec_id, unnest(range(1, 65)) t(i)),
      c1 AS MATERIALIZED (SELECT cid, list(m ORDER BY i) AS ce FROM (
             SELECT cid, i, avg(x) AS m FROM x1 GROUP BY cid, i) GROUP BY cid),
      a2 AS MATERIALIZED (SELECT vec_id, cid FROM (
          SELECT x.vec_id, c.cid,
            row_number() OVER (PARTITION BY x.vec_id
              ORDER BY list_cosine_similarity(x.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM ev x, c1 c) t WHERE rn = 1),
      c2m AS MATERIALIZED (SELECT a.cid, CAST(i AS BIGINT) AS i, avg(e.e[i]) AS m
              FROM a2 a JOIN ev e ON e.vec_id = a.vec_id, unnest(range(1, 65)) t(i)
              GROUP BY a.cid, i),
      c2 AS MATERIALIZED (SELECT cid, list(m ORDER BY i) AS ce FROM c2m GROUP BY cid),
      a3 AS MATERIALIZED (SELECT vec_id, cid FROM (
          SELECT x.vec_id, c.cid,
            row_number() OVER (PARTITION BY x.vec_id
              ORDER BY list_cosine_similarity(x.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM ev x, c2 c) t WHERE rn = 1),
      n AS MATERIALIZED (SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM a3 GROUP BY cid)
      SELECT c2m.cid, c2m.i - 1 AS i, round(c2m.m, 6) AS v6, n.n_members
      FROM c2m JOIN n USING (cid)
      ORDER BY c2m.cid NULLS FIRST, c2m.i - 1 NULLS FIRST""",

    // q161: BM25 restated — token table, probe VALUES, dl/avgdl/N from
    // the unrestricted corpus, tf/df restricted to probe terms, Lucene
    // idf + saturation + length norm verbatim, rank on the rounded sum
    "q161_bm25_topk" -> """
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
      s AS (SELECT q.qid, wt.doc_id, round(sum(wt.wt), 6) AS score6,
              CAST(count(*) AS BIGINT) AS n_terms
            FROM q JOIN wt ON wt.term = q.term GROUP BY q.qid, wt.doc_id),
      r AS (SELECT qid, doc_id, score6, n_terms,
              row_number() OVER (PARTITION BY qid
                ORDER BY score6 DESC NULLS LAST, doc_id NULLS FIRST) AS rn
            FROM s)
      SELECT CAST(qid AS BIGINT) AS qid, doc_id, score6, n_terms,
        CAST(rn AS BIGINT) AS rn
      FROM r WHERE rn <= 5 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q162: both L2 rankings replayed with DuckDB list slicing — prefix
    // candidates at prn <= k*mult, exact full-width rerank at rn <= k
    "q162_matryoshka_rerank" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      q0 AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id >= 100 AND vec_id < 105),
      cand AS (SELECT qid, vec_id FROM (
          SELECT q0.qid, e.vec_id,
            row_number() OVER (PARTITION BY q0.qid
              ORDER BY list_distance(e.e[1:16], q0.qe[1:16]) NULLS LAST,
                e.vec_id NULLS FIRST) AS prn
          FROM q0, e WHERE e.vec_id <> q0.qid) t WHERE prn <= 12)
      SELECT qid, vec_id, round(adist, 6) AS adist, CAST(rn AS BIGINT) AS rn FROM (
        SELECT c.qid, c.vec_id, list_distance(q0.qe, e.e) AS adist,
          row_number() OVER (PARTITION BY c.qid
            ORDER BY list_distance(q0.qe, e.e) NULLS LAST, e.vec_id NULLS FIRST) AS rn
        FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q0 ON q0.qid = c.qid) t
      WHERE rn <= 3 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    // q163: union-vocabulary counts, add-one smoothing, the three
    // divergence sums restated term-for-term
    "q163_unigram_divergence" -> """
      WITH tok AS (SELECT side, w AS term FROM (
              SELECT CASE WHEN lang = 'en' THEN 'a' WHEN lang = 'de' THEN 'b' END AS side,
                unnest(string_split(lower(text), ' ')) AS w
              FROM documents) t
            WHERE side IS NOT NULL AND w <> ''),
      c AS (SELECT term,
              sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS ca,
              sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS cb
            FROM tok GROUP BY term),
      tt AS (SELECT sum(ca) AS ta, sum(cb) AS tb, count(*) AS v FROM c),
      p AS (SELECT tt.ta, tt.tb, tt.v,
              (c.ca + 1.0) / (tt.ta + tt.v) AS pa,
              (c.cb + 1.0) / (tt.tb + tt.v) AS pb
            FROM c, tt)
      SELECT CAST(v AS BIGINT) AS n_vocab, CAST(ta AS BIGINT) AS t_a,
        CAST(tb AS BIGINT) AS t_b,
        round(sum(pa * ln(pa / pb)), 6) AS kl_ab6,
        round(sum(pb * ln(pb / pa)), 6) AS kl_ba6,
        round(0.5 * sum(pa * ln(pa / ((pa + pb) / 2.0))) +
              0.5 * sum(pb * ln(pb / ((pa + pb) / 2.0))), 6) AS js6
      FROM p GROUP BY v, ta, tb""",

    // q165: q142's unrolled 2-round Lloyd ladder (shared prefix) closed
    // by final centroid lists, the per-point top-2 centroid ranking
    // (own = rn 1, nearest other = rn 2 — own is the cosine argmax so
    // its distance is the minimum), and the silhouette fold
    "q165_silhouette" -> s"""
      WITH $lloyd8x2Cte,
      cf AS (SELECT cid, list(m ORDER BY i) AS ce FROM (
             SELECT cid, i, avg(x) AS m FROM x2 GROUP BY cid, i) GROUP BY cid),
      s AS (SELECT e.vec_id, c.cid, 1.0 - list_cosine_similarity(e.e, c.ce) AS d,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
            FROM e, cf c),
      p AS (SELECT a.vec_id, a.cid, a.d AS da, b.d AS db
            FROM (SELECT vec_id, cid, d FROM s WHERE rn = 1) a
            JOIN (SELECT vec_id, d FROM s WHERE rn = 2) b USING (vec_id)),
      sil AS (SELECT cid, CASE WHEN greatest(da, db) = 0 THEN 0.0
                ELSE (db - da) / greatest(da, db) END AS sv FROM p)
      SELECT cid, count(*) AS n, round(avg(sv), 6) AS mean_s6,
        round(min(sv), 6) AS min_s6
      FROM sil GROUP BY cid ORDER BY cid""",

    // q166: q100's tokenizer + stopword scores + first-wins argmax CASE,
    // then the kappa combinatorics — confusion, marginals and diagonal
    // exact; the single closing division is the only float
    "q166_cohens_kappa" -> """
      WITH tok AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w FROM documents),
      sc AS (SELECT doc_id, lang,
          sum(CASE WHEN w IN ('the', 'a', 'of', 'and', 'to', 'is') THEN 1 ELSE 0 END) AS s_en,
          sum(CASE WHEN w IN ('der', 'die', 'das', 'und', 'ist', 'nicht') THEN 1 ELSE 0 END) AS s_de,
          sum(CASE WHEN w IN ('el', 'la', 'de', 'los', 'y', 'es') THEN 1 ELSE 0 END) AS s_es,
          sum(CASE WHEN w IN ('le', 'les', 'et', 'des', 'un', 'est') THEN 1 ELSE 0 END) AS s_fr
        FROM tok GROUP BY doc_id, lang),
      pred AS (SELECT lang,
          CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
               WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
               WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
               WHEN s_fr > 0 THEN 'fr'
               ELSE 'unknown' END AS pred
        FROM sc),
      conf AS (SELECT pred AS la, lang AS lb, count(*) AS nij FROM pred GROUP BY pred, lang),
      rm AS (SELECT la, CAST(sum(nij) AS BIGINT) AS am FROM conf GROUP BY la),
      cm AS (SELECT lb, CAST(sum(nij) AS BIGINT) AS bm FROM conf GROUP BY lb),
      pe AS (SELECT CAST(coalesce(sum(am * bm), 0) AS BIGINT) AS pe_num
             FROM rm JOIN cm ON la = lb),
      base AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
               CAST(coalesce(sum(CASE WHEN la = lb THEN nij END), 0) AS BIGINT) AS agree
               FROM conf)
      SELECT n, agree, pe_num,
        CASE WHEN n * n = pe_num THEN 1.0
             ELSE round(CAST(n * agree - pe_num AS DOUBLE) / (n * n - pe_num), 6)
        END AS kappa6
      FROM base, pe""",

    // q167: exact linear-interpolated quantiles (quantile_cont ≡ Spark
    // percentile), MAD/trim/Tukey fences against the per-group quantile
    // row — the same two-pass shape as the operator
    "q167_robust_stats" -> """
      WITH v AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS x FROM documents),
      q AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
              quantile_cont(x, 0.10) AS p10, quantile_cont(x, 0.25) AS p25,
              quantile_cont(x, 0.50) AS med, quantile_cont(x, 0.75) AS p75,
              quantile_cont(x, 0.90) AS p90
            FROM v GROUP BY g),
      a AS (SELECT g,
              quantile_cont(abs(x - med), 0.50) AS mad,
              avg(CASE WHEN x >= p10 AND x <= p90 THEN x END) AS trimmed_mean,
              CAST(coalesce(sum(CASE WHEN x < p25 - 1.5 * (p75 - p25)
                                   OR x > p75 + 1.5 * (p75 - p25) THEN 1 END), 0) AS BIGINT)
                AS n_outliers
            FROM v JOIN q USING (g) GROUP BY g)
      SELECT g AS lang, n, round(p25, 6) AS p25, round(med, 6) AS med,
        round(p75, 6) AS p75, round(p75 - p25, 6) AS iqr, round(mad, 6) AS mad,
        round(trimmed_mean, 6) AS trimmed_mean, n_outliers
      FROM q JOIN a USING (g) ORDER BY lang""",

    // q168: the Lloyd ladder + final assignment vs the generator label
    // column; pair counting with `//` exact integer division, the two
    // closing divisions are the only floats
    "q168_adjusted_rand" -> s"""
      WITH $lloyd8x2Cte,
      cf AS (SELECT cid, list(m ORDER BY i) AS ce FROM (
             SELECT cid, i, avg(x) AS m FROM x2 GROUP BY cid, i) GROUP BY cid),
      af AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, cf c) t WHERE rn = 1),
      pr AS (SELECT a.cid AS ca, CAST(l.label AS BIGINT) AS cb
             FROM af a JOIN embeddings l ON l.vec_id = a.vec_id),
      cont AS (SELECT ca, cb, count(*) AS nij FROM pr GROUP BY ca, cb),
      sij AS (SELECT CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS sum_ij,
                     CAST(sum(nij) AS BIGINT) AS n FROM cont),
      sa AS (SELECT CAST(sum((ai * (ai - 1)) // 2) AS BIGINT) AS sum_a FROM (
             SELECT CAST(sum(nij) AS BIGINT) AS ai FROM cont GROUP BY ca) t),
      sb AS (SELECT CAST(sum((bj * (bj - 1)) // 2) AS BIGINT) AS sum_b FROM (
             SELECT CAST(sum(nij) AS BIGINT) AS bj FROM cont GROUP BY cb) t),
      f AS (SELECT n, sum_ij, sum_a, sum_b,
              CAST(sum_a AS DOUBLE) * sum_b / ((n * (n - 1)) // 2) AS e_exp
            FROM sij, sa, sb)
      SELECT n, sum_ij, sum_a, sum_b,
        round(CASE WHEN (sum_a + sum_b) / 2.0 - e_exp = 0 THEN 1.0
              ELSE (sum_ij - e_exp) / ((sum_a + sum_b) / 2.0 - e_exp) END, 6) AS ari6
      FROM f""",

    // q169: the Lloyd ladder + assignment vs the generator label (q168's
    // pair), then NMI from plain GROUP BYs: the x·ln x marginal sums,
    // MI/entropies via ln n + (sums)/n, arithmetic-mean normalization
    "q169_nmi" -> s"""
      WITH $lloyd8x2Cte,
      cf AS (SELECT cid, list(m ORDER BY i) AS ce FROM (
             SELECT cid, i, avg(x) AS m FROM x2 GROUP BY cid, i) GROUP BY cid),
      af AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, cf c) t WHERE rn = 1),
      pr AS (SELECT a.cid AS ca, CAST(l.label AS BIGINT) AS cb
             FROM af a JOIN embeddings l ON l.vec_id = a.vec_id),
      cont AS (SELECT ca, cb, count(*) AS nij FROM pr GROUP BY ca, cb),
      tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n, sum(nij * ln(nij)) AS sc FROM cont),
      ma AS (SELECT sum(ai * ln(ai)) AS sa FROM (
             SELECT sum(nij) AS ai FROM cont GROUP BY ca) t),
      mb AS (SELECT sum(bj * ln(bj)) AS sb FROM (
             SELECT sum(nij) AS bj FROM cont GROUP BY cb) t),
      f AS (SELECT n, ln(n) + (sc - sa - sb) / n AS mi,
              ln(n) - sa / n AS h_a, ln(n) - sb / n AS h_b
            FROM tot, ma, mb)
      SELECT n, round(mi, 6) AS mi6, round(h_a, 6) AS h_a6,
        round(h_b, 6) AS h_b6,
        round(CASE WHEN h_a + h_b = 0 THEN 1.0
              ELSE mi / ((h_a + h_b) / 2.0) END, 6) AS nmi6
      FROM f""",

    // q170: population-covariance RAW INTEGER MOMENTS of the first 16
    // dims (r19) — dims snapped to a 1e-6 integer grid, EXACT BIGINT
    // moment sums (commutative, merge-order-immune), emitted AS BIGINTs:
    // no round(DOUBLE, k) / float formatting of ANY engine version is in
    // the hash path. Consumers divide downstream (mean = sx/(n·1e6),
    // cov = sxy/(n·1e12) − mean_i·mean_j — covarianceMatrixExact).
    "q170_covariance" -> """
      WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      x AS (SELECT i, j,
              CAST(round(e.e[i] * 1000000.0) AS BIGINT) AS xi,
              CAST(round(e.e[j] * 1000000.0) AS BIGINT) AS xj
            FROM e, unnest(range(1, 17)) s(i), unnest(range(1, 17)) t(j)
            WHERE i <= j)
      SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(xj) AS BIGINT) AS sy,
        CAST(sum(xi * xj) AS BIGINT) AS sxy
      FROM x GROUP BY i, j ORDER BY i - 1, j - 1""",

    // q142: two unrolled Lloyd rounds — init = first 8 by vec_id (cid =
    // rank), q35's proven cosine-argmax assignment idiom per round,
    // elementwise avg per (cid, dim); the final select emits round 2's
    // means directly (0-based dim to match posexplode)
    "q142_kmeans_train" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, e AS ce
             FROM (SELECT vec_id, e FROM e ORDER BY vec_id LIMIT 8)),
      a1 AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c0 c) t WHERE rn = 1),
      x1 AS (SELECT a.cid, CAST(i AS BIGINT) AS i, e.e[i] AS x
             FROM a1 a JOIN e ON e.vec_id = a.vec_id, unnest(range(1, 65)) t(i)),
      c1 AS (SELECT cid, list(m ORDER BY i) AS ce FROM (
             SELECT cid, i, avg(x) AS m FROM x1 GROUP BY cid, i) GROUP BY cid),
      a2 AS (SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.e, c.ce) DESC NULLS LAST, c.cid NULLS FIRST) AS rn
          FROM e, c1 c) t WHERE rn = 1),
      x2 AS (SELECT a.cid, CAST(i AS BIGINT) AS i, e.e[i] AS x
             FROM a2 a JOIN e ON e.vec_id = a.vec_id, unnest(range(1, 65)) t(i))
      SELECT cid, i - 1 AS i, round(avg(x), 6) AS v6
      FROM x2 GROUP BY cid, i ORDER BY cid, i - 1""",

    // q144: even×odd cosine candidates, per-side top-4 neighborhood
    // averages, ratio margin with the identical association, mined =
    // rq=1 pairs at margin >= 1
    "q144_bitext_margin" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      p AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id,
              list_cosine_similarity(a.e, b.e) AS sim
            FROM e a, e b WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
      r AS (SELECT qid, vec_id, sim,
              row_number() OVER (PARTITION BY qid
                ORDER BY sim DESC NULLS LAST, vec_id NULLS FIRST) AS rq,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY sim DESC NULLS LAST, qid NULLS FIRST) AS rv
            FROM p),
      sa AS (SELECT qid, avg(sim) AS sa FROM r WHERE rq <= 4 GROUP BY qid),
      sb AS (SELECT vec_id, avg(sim) AS sb FROM r WHERE rv <= 4 GROUP BY vec_id),
      m AS (SELECT r.qid, r.vec_id, r.sim, r.sim / ((sa + sb) / 2.0) AS margin
            FROM r JOIN sa USING (qid) JOIN sb USING (vec_id) WHERE rq = 1)
      SELECT qid, vec_id, round(sim, 6) AS sim6, round(margin, 6) AS margin6
      FROM m WHERE margin >= 1.0 ORDER BY qid NULLS FIRST""",
  ).map { case (k, v) => k -> v.stripMargin.trim }
}
