package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.storage.StorageLevel

import graft.functions.TextOps

/** Near-duplicate detection operators for large-scale text corpora
  * (north-star extension; SURVEY.md §2.10).
  *
  * All variants avoid the O(N²) all-pairs comparison at scale:
  *  - MinHash+LSH: candidates come from an equi-join on band keys (shuffle
  *    on band hash; bucket sizes bounded by true near-dup clusters);
  *  - SimHash: banded by the pigeonhole principle — a Hamming distance ≤ d
  *    pair must agree exactly on at least one of d+1 bit-chunks, so an
  *    equi-join on (chunk index, chunk value) has perfect recall;
  *  - n-gram Jaccard / containment: inverted-index join on shingles
  *    (pairs sharing no shingle never meet).
  *
  * Hash family: lexicographic MIN over `md5(seed || shingle)` hex strings —
  * one independent "random permutation" per seed, portable bit-for-bit
  * across engines (md5 is identical everywhere).
  */
object Dedup {

  // Operators here `hold` their corpus-sized intermediates (shingle and
  // signature tables) and return `materialized(result, holds...)`: the
  // pair result, small relative to the corpus, comes back as a local
  // checkpoint — freed once dropped, or at once by `Materialize.release`.
  import CacheDiscipline.{hold, materialized}

  /** Loan pattern for the materialized results of [[minHashNearDups]] /
    * [[simHashNearDups]] / [[ngramJaccard]]: runs `f` over the pair table
    * and releases it afterwards ([[graft.Materialize.release]]), so
    * long-lived sessions (notebooks, verify drivers) running many dedup
    * calls never accumulate stored pair tables. `f` must finish with the
    * pairs: a lazy frame it returns may not read them after the loan. */
  def withPairs[T](pairs: DataFrame)(f: DataFrame => T): T =
    try f(pairs) finally graft.Materialize.release(pairs)

  /** Long-form distinct token-n-gram shingles: (id, w). Shingle derivation
    * uses the native `word_ngrams` expression (identical output to the HOF
    * form, pinned in NativeHashParitySpec; ~10× on shingle-heavy scans). */
  def shingleSet(df: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame =
    df.select(id.as("doc_id"), TextOps.tokens(text).as("s"))
      .select(col("doc_id"), explode(TextOps.shinglesNative(col("s"), n)).as("w"))
      .distinct()

  /** MinHash signature per id, SQL-composed form: an array<string> of
    * `numHashes` minima aggregated over exploded shingle rows. Kept as the
    * cross-check for [[minHashSignaturesNative]] (NativeHashParitySpec
    * asserts bit-equality); the native form is the scale path. */
  def minHashSignatures(shingles: DataFrame, numHashes: Int = 8): DataFrame = {
    val aggs = (0 until numHashes).map(s => min(md5(concat(lit(s"$s|"), col("w")))).as(s"h$s"))
    shingles.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash signatures via the native one-pass expression
    * ([[graft.plans.TextHashExpressions.MinHashSignature]]): identical
    * signatures with NO shingle explode, NO shuffle and NO aggregation —
    * signature derivation is a map stage, so the only shuffle left in the
    * LSH pipeline is the bounded band join. Docs with fewer than
    * `shingleN` tokens are dropped, matching the composed form (they
    * produce no shingle rows). */
  def minHashSignaturesNative(
      docs: DataFrame, id: Column, text: Column,
      shingleN: Int = 3, numHashes: Int = 8): DataFrame =
    docs.select(id.as("doc_id"),
        graft.plans.GraftFunctions
          .minHashSignature(TextOps.tokens(text), shingleN, numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** 32-bit SimHash via the native one-pass expression
    * ([[graft.plans.TextHashExpressions.SimHash32]]) — replaces the
    * explode(shingles)×32-bit-rows aggregation pipeline of [[simHash]]
    * with a per-row computation. */
  def simHashNative(docs: DataFrame, id: Column, text: Column, shingleN: Int = 3): DataFrame =
    docs.select(id.as("doc_id"),
        graft.plans.GraftFunctions.simHash32(TextOps.tokens(text), shingleN).as("sh"))
      .filter(col("sh").isNotNull)

  /** 64-bit native SimHash — pair with `simHashNearDups(…, bits = 64)`
    * for the corpus-scale band join (see there). */
  def simHash64Native(docs: DataFrame, id: Column, text: Column, shingleN: Int = 3): DataFrame =
    docs.select(id.as("doc_id"),
        graft.plans.GraftFunctions.simHash64(TextOps.tokens(text), shingleN).as("sh"))
      .filter(col("sh").isNotNull)

  /** LSH band keys: (doc_id, bi, bk) with `bands` bands of
    * `numHashes/bands` rows; band key = md5 of the concatenated slice. */
  def lshBands(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes): a remainder would " +
      "silently drop trailing signature positions, and bands > numHashes " +
      "would give every doc an identical empty band key (full N^2 blowup)")
    val rows = numHashes / bands
    val bandKeys = (0 until bands).map { b =>
      md5(concat((0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)): _*))
    }
    sigs.select(col("doc_id"), posexplode(array(bandKeys: _*)).as(Seq("bi", "bk")))
  }

  /** Collision probability of the banded-LSH S-curve: a pair with true
    * Jaccard `sim` shares at least one of `bands` bands of `rows`
    * signature positions with probability `1 − (1 − sim^rows)^bands`.
    * Pure arithmetic — use it to AUDIT a (bands, rows) choice (what
    * recall at the target threshold? what candidate rate at the noise
    * floor?) before paying for the band join. */
  def lshCollisionProb(sim: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(sim, rows), bands)

  /** CLOSED-FORM LSH PARAMETER SELECTION — turns [[lshCollisionProb]]'s
    * audit into the planning operator a pipeline runs BEFORE paying for
    * a corpus-wide band join: for every factorization `b·r = numHashes`,
    * integrate the S-curve's deviation from the ideal step at
    * `threshold` (midpoint rule over `gridN` similarity points) into a
    * false-positive area (`∫_{s<t} p(s) ds` — expected candidate mass
    * from sub-threshold pairs, the shuffle cost of a too-aggressive
    * banding) and a false-negative area (`∫_{s≥t} 1−p(s) ds` — missed
    * near-dup mass, the recall cost of a too-conservative one), and
    * flag the total-error argmin (fn tie-break toward fewer misses,
    * then larger r). `s50 = (1/b)^(1/r)` is the S-curve's threshold —
    * the similarity where `s^r = 1/b`, i.e. collision probability
    * `1 − (1 − 1/b)^b → 1 − 1/e`, the curve's rise point — reported so
    * the chosen banding's effective threshold is visible next to the
    * requested one (Leskovec–Rajaraman–Ullman, MMDS §3.4.3).
    *
    * Scale: the whole computation is `d(numHashes)·gridN` rows of pure
    * arithmetic (a few hundred) — a planning table, not a data job; the
    * value at 100 TB is that the b/r choice this emits bounds the
    * candidate-join mass of the REAL job. Deterministic (no sampling:
    * the integral is a fixed midpoint quadrature), so the oracle
    * re-derives every area bit-for-bit at 6 decimals.
    *
    * Relationship to [[lshParamsFor]] (r11): that is the driver-side
    * scalar chooser with ASYMMETRIC error weights (recall-favoring
    * default, for calling inside pipeline code); this is its
    * equal-weight declarative restatement as a gated TABLE — the full
    * error landscape, not just the argmin, auditable next to the jobs
    * it tunes. DedupSpec pins that the two agree on the argmin at equal
    * weights. */
  def lshTuning(
      spark: org.apache.spark.sql.SparkSession, numHashes: Int,
      threshold: Double, gridN: Int = 200): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1), got $threshold")
    require(gridN >= 10, s"gridN must be >= 10, got $gridN")
    import spark.implicits._
    val factorizations = (1 to numHashes)
      .filter(numHashes % _ == 0).map(r => (numHashes / r, r))
    val f = factorizations.toDF("b", "r")
    val grid = spark.range(gridN.toLong)
      .select(((col("id") + 0.5) / gridN).as("s"))
    val curves = f.crossJoin(grid)
      .select(col("b"), col("r"), col("s"),
        (lit(1.0) - pow(lit(1.0) - pow(col("s"), col("r")), col("b"))).as("p"))
    // rank on the 6-decimal-rounded areas, not the raw sums: the raw
    // doubles are partial-aggregate sums whose merge order is task-
    // dependent (and the oracle sums in yet another order), so two
    // factorizations ulps apart could flip `chosen` between engines —
    // the bm25TopK round-before-rank discipline
    val round6 = (c: Column) => graft.functions.Rounding.portable(c, 6)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(round6(col("err")), round6(col("fn_area")), col("r").desc)
    // ORDER-EXACT quadrature (r18, the q170 integer-moment discipline):
    // each midpoint term is snapped to a 1e-12 integer grid and summed
    // as an exact long — addition commutes, so the area is identical
    // under any partial-aggregate merge order and engine, not just the
    // rank. ≤ gridN·1e12 ≈ 2e14 fits a long with 4 decades to spare;
    // the 1e-12 snap perturbs a ~1e-1 area by ≤ gridN·5e-13/gridN,
    // invisible at the gate's 6 decimals.
    val quadScale = 1e12
    val term = (c: Column) => round(c * lit(quadScale)).cast("long")
    val area = (c: Column) => c.cast("double") / lit(gridN * quadScale)
    curves.groupBy("b", "r")
      .agg(
        area(sum(term(when(col("s") < threshold, col("p")).otherwise(0.0)))).as("fp_area"),
        area(sum(term(when(col("s") >= threshold, lit(1.0) - col("p")).otherwise(0.0)))).as("fn_area"))
      .withColumn("err", col("fp_area") + col("fn_area"))
      .withColumn("s50", pow(lit(1.0) / col("b"), lit(1.0) / col("r")))
      .withColumn("chosen", (row_number().over(w) === 1))
  }

  /** Choose `(bands, rows)` for a Jaccard `threshold` given `numHashes`
    * signature positions — the datasketch-style optimizer restated over
    * exact divisor pairs (lshBands requires bands × rows = numHashes):
    * minimize `falseNegWeight`-weighted miss mass above the threshold
    * plus `falsePosWeight`-weighted candidate mass below it, both as
    * S-curve integrals (midpoint rule). The classic rule of thumb
    * `(1/bands)^(1/rows) ≈ threshold` is the curve's waterline; the
    * integral form also accounts for how SHARP the curve is around it.
    * More bands → recall (catches lower sims), more rows → precision
    * (starves the candidate join). At 100 TB the asymmetry matters:
    * a false positive costs one verify-join row, a false negative is a
    * duplicate that ships to training — hence the default weighting
    * favors recall. */
  def lshParamsFor(numHashes: Int, threshold: Double,
      falsePosWeight: Double = 0.5, falseNegWeight: Double = 1.0): (Int, Int) = {
    require(numHashes >= 2, s"need >= 2 hashes, got $numHashes")
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1), got $threshold")
    val steps = 1000
    def error(b: Int, r: Int): Double = {
      var fp = 0.0; var fn = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = lshCollisionProb(s, b, r)
        if (s < threshold) fp += p else fn += (1.0 - p)
        i += 1
      }
      (falsePosWeight * fp + falseNegWeight * fn) / steps
    }
    val candidates = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    candidates.minBy { case (b, r) => error(b, r) }
  }

  /** Candidate pairs (da < db) sharing at least one band — the LSH
    * equi-join that replaces the N² cross product. */
  def candidatePairs(bands: DataFrame): DataFrame = {
    val a = bands.select(col("doc_id").as("da"), col("bi"), col("bk"))
    val b = bands.select(col("doc_id").as("db"), col("bi").as("bj"), col("bk").as("bl"))
    a.join(b, col("bi") === col("bj") && col("bk") === col("bl") && col("da") < col("db"))
      .select("da", "db").distinct()
  }

  /** Estimated Jaccard = fraction of agreeing signature positions. */
  def estimatedJaccard(sa: Column, sb: Column, numHashes: Int): Column =
    aggregate(zip_with(sa, sb, (x, y) => (x === y).cast("int")), lit(0), (acc, v) => acc + v) /
      lit(numHashes.toDouble)

  /** Full MinHash+LSH near-dup pipeline: pairs (da, db, est) with
    * estimated Jaccard ≥ `threshold`. Returns a materialized result (see
    * [[materialized]]); [[withPairs]] releases it when done. */
  def minHashNearDups(
      docs: DataFrame, id: Column, text: Column,
      numHashes: Int = 8, bands: Int = 2, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // sigs feeds three plan branches (bands + both sides of the estimate
    // join); persist so the per-row md5 signature loop — the expensive
    // part — executes once, not three times
    val sigsHeld = hold(minHashSignaturesNative(docs, id, text, shingleN, numHashes))
    val sigs = sigsHeld.df
    val cand = candidatePairs(lshBands(sigs, numHashes, bands))
    val sa = sigs.select(col("doc_id").as("da"), col("sig").as("sa"))
    val sb = sigs.select(col("doc_id").as("db"), col("sig").as("sb"))
    val pairs = cand.join(sa, "da").join(sb, "db")
      .select(col("da"), col("db"),
        estimatedJaccard(col("sa"), col("sb"), numHashes).as("est"))
      .filter(col("est") >= threshold)
    materialized(pairs, sigsHeld)
  }

  /** INCREMENTAL near-dup detection — the operation a production corpus
    * runs daily: "dedup this NEW batch against the EXISTING corpus"
    * without recomputing all pairs. The corpus is represented by its
    * persisted MinHash signature table (doc_id, sig) — the output of
    * [[minHashSignaturesNative]], written once per ingest (e.g. via
    * [[Layout.writeBucketed]] on doc_id) and unioned forward here; the
    * corpus TEXT is never re-read and never re-shingled.
    *
    * Returns (pairs, updatedSignatures):
    *  - `pairs` — (da, db, est ≥ threshold) covering new×corpus AND
    *    new×new; corpus×corpus pairs were reported by earlier calls.
    *    Running this over any split of a corpus and unioning with the
    *    prior corpus-only pairs reproduces [[minHashNearDups]] over the
    *    whole corpus EXACTLY (same bands → same candidates → same
    *    estimates; pinned in DedupSpec). Materialized like the batch
    *    operators.
    *  - `updatedSignatures` — corpus signatures ∪ the new batch's, the
    *    input for tomorrow's call, one row per id: a batch id already in
    *    the corpus (a re-crawled page) REPLACES its old signature — new
    *    signature wins, for both the returned table and the pair
    *    estimates. Lazy: writing it to the signature table is one
    *    map-only append of the new rows plus the broadcast anti-join
    *    (a no-op when id sets are disjoint, the common case).
    *
    * Shuffle shape at 100 TB: the corpus side is ONE map-only pass over
    * the signature table (band keys derived in the projection — no
    * shingling, no aggregation) into the band equi-join; the new batch
    * (tiny by comparison) is the build side AQE broadcasts. Nothing in
    * the plan scales with corpus pair count. Signature parameters
    * (`numHashes`, `shingleN`, and the band count) must match the ones
    * the corpus table was built with — band keys are positional slices of
    * the signature array, so a mismatch silently produces disjoint keys;
    * callers should store them alongside the table. */
  def incrementalNearDups(
      newBatch: DataFrame, id: Column, text: Column,
      corpusSignatures: DataFrame,
      numHashes: Int = 8, bands: Int = 2, shingleN: Int = 3,
      threshold: Double = 0.5): (DataFrame, DataFrame) = {
    // new-batch signatures feed four branches (bands, both estimate join
    // sides, the returned union); persist for the pair materialization
    val newSigsHeld = hold(minHashSignaturesNative(newBatch, id, text, shingleN, numHashes))
    val newSigs = newSigsHeld.df
    // RE-INGEST resolution: a batch id already present in the corpus
    // table (a re-crawled page) supersedes its old signature — otherwise
    // the union below would carry two rows per id, fanning every
    // candidate involving that id into conflicting-est duplicates and
    // corrupting tomorrow's signature table. The anti-join is broadcast
    // (batch ids are the tiny side), map-only over the corpus, and a
    // no-op when id sets are disjoint (the common case).
    val liveCorpusSigs = corpusSignatures
      .join(newSigs.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val newBands = lshBands(newSigs, numHashes, bands)
    val corpusBands = lshBands(liveCorpusSigs, numHashes, bands)
    // new × corpus: da/db ordered least/greatest to keep minHashNearDups'
    // (da < db) convention; `=!=` guards a re-ingested doc id matching
    // its own corpus signature
    val nc = newBands.select(col("doc_id").as("dn"), col("bi"), col("bk"))
      .join(corpusBands.select(col("doc_id").as("dc"), col("bi").as("bj"), col("bk").as("bl")),
        col("bi") === col("bj") && col("bk") === col("bl") && col("dn") =!= col("dc"))
      .select(least(col("dn"), col("dc")).as("da"), greatest(col("dn"), col("dc")).as("db"))
      .distinct()
    // new × new: the intra-batch pairs (corpus ids surviving the re-ingest
    // resolution and batch ids are disjoint, so the candidate tables
    // cannot overlap)
    val cand = nc.union(candidatePairs(newBands))
    val allSigs = liveCorpusSigs.unionByName(newSigs)
    val sa = allSigs.select(col("doc_id").as("da"), col("sig").as("sa"))
    val sb = allSigs.select(col("doc_id").as("db"), col("sig").as("sb"))
    val pairs = cand.join(sa, "da").join(sb, "db")
      .select(col("da"), col("db"),
        estimatedJaccard(col("sa"), col("sb"), numHashes).as("est"))
      .filter(col("est") >= threshold)
    // newSigs is released with the other intermediates (the loan-pattern
    // convention of this file): consuming updatedSignatures recomputes
    // the new batch's signatures once — one map-only pass over the SMALL
    // side, cheaper than a dangling cache entry nobody owns.
    (materialized(pairs, newSigsHeld), allSigs)
  }

  /** 32-bit SimHash per document over its shingle set, SQL-composed form
    * (kept as the cross-check for [[simHashNative]]). The per-shingle
    * hash is the first 8 hex chars of md5 (portable); bit extraction uses
    * `floor(h/2^bit) % 2` (exact in double for h < 2³²) so the oracle SQL
    * is expressible identically. */
  def simHash(shingles: DataFrame): DataFrame =
    shingles
      .select(col("doc_id"), conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("h32"))
      .select(col("doc_id"), col("h32"), explode(sequence(lit(0), lit(31))).as("bit"))
      .groupBy("doc_id", "bit")
      .agg(sum(when(floor(col("h32") / pow(lit(2), col("bit"))).cast("long") % 2 === 1, 1)
        .otherwise(-1)).as("wgt"))
      .groupBy("doc_id")
      .agg(sum(when(col("wgt") > 0, pow(lit(2), col("bit")).cast("long")).otherwise(0L))
        .cast("long").as("sh"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, found via the
    * pigeonhole-banded equi-join (exact same result set as the N² scan:
    * dist ≤ maxDist ⇒ at least one of maxDist+1 chunks is equal).
    *
    * `bits` selects the hash width: 32 (q32's oracle contract) or 64
    * ([[simHash64Native]] — the corpus-scale variant: 16-bit chunks give
    * (maxDist+1)·2^16 buckets instead of (maxDist+1)·2^8, cutting the
    * constant-bucket candidate growth N²/buckets by ~256×). Chunk keys
    * use integer shift/mask, not floor/pow: double arithmetic is exact
    * only to 2^53 and would corrupt keys of full 64-bit hashes. */
  def simHashNearDups(hashesIn: DataFrame, maxDist: Int = 3, bits: Int = 32): DataFrame = {
    require(bits == 32 || bits == 64, s"bits must be 32 or 64, got $bits")
    // the simhash table is tiny (one long per doc) but its lineage — the
    // full shingle+bit pipeline — feeds both join sides; persist it
    val hashesHeld = hold(hashesIn)
    val hashes = hashesHeld.df
    val chunks = maxDist + 1
    val bitsPer = bits / chunks // 8-bit chunks for 32/maxDist=3; 16 for 64
    val mask = (1L << bitsPer) - 1L
    val chunkKeys = (0 until chunks).map(i =>
      shiftrightunsigned(col("sh"), i * bitsPer).bitwiseAND(lit(mask)))
    val banded = hashes.select(col("doc_id"), col("sh"),
      posexplode(array(chunkKeys: _*)).as(Seq("ci", "ck")))
    val a = banded.select(col("doc_id").as("da"), col("sh").as("sha"), col("ci"), col("ck"))
    val b = banded.select(col("doc_id").as("db"), col("sh").as("shb"),
      col("ci").as("cj"), col("ck").as("cl"))
    val pairs = a.join(b,
        col("ci") === col("cj") && col("ck") === col("cl") && col("da") < col("db"))
      .select(col("da"), col("db"), expr("bit_count(sha ^ shb)").cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
    materialized(pairs, hashesHeld)
  }

  /** Exact n-gram Jaccard, `|A∩B| / |A∪B|`, over the inverted-index join
    * of [[ngramIntersections]]: only pairs sharing at least one indexed
    * shingle are compared. Returns (da, db, jacc) with da < db and
    * `jacc >= threshold`, unrounded. `dfCap` is the core's stop-shingle
    * guard (exact scores; misses only all-stop-shingle pairs). */
  def ngramJaccard(shinglesIn: DataFrame, threshold: Double,
      dfCap: Option[Long] = None): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0, s"threshold $threshold out of [0,1]")
    overIntersections(shinglesIn, dfCap)(
      _.select(col("da"), col("db"),
          (col("i") * lit(1.0) / (col("na") + col("nb") - col("i"))).as("jacc"))
        .filter(col("jacc") >= threshold))
  }

  /** CONTAINMENT near-dup — Broder's second resemblance measure,
    * `C(A→B) = |A∩B| / |A|`: the asymmetric companion [[ngramJaccard]]
    * structurally cannot catch. A 50-shingle document quoted whole
    * inside a 1000-shingle digest has containment 1.0 from the short
    * side but Jaccard ≈ 0.05 — subset duplication (quote pages, digest
    * articles, doc-in-doc concatenations) is invisible to the symmetric
    * measure at any usable threshold. Emits each candidate pair with
    * BOTH directions, filtered on `max(cab, cba) ≥ threshold`; the
    * caller reads which side is the contained one from which direction
    * is high. Same intersection core as [[ngramJaccard]]; at
    * containment ≥ 0.8 the contained side shares nearly ALL its
    * shingles, so the pairs a `dfCap` drops are corpus boilerplate (the
    * [[fingerprint]] / [[boilerplateLines]] regime, not subset
    * duplication). Returns (da, db, i, na, nb, cab, cba) with da < db,
    * unrounded. */
  def ngramContainment(shinglesIn: DataFrame, threshold: Double,
      dfCap: Option[Long] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold $threshold out of (0,1]")
    overIntersections(shinglesIn, dfCap)(
      _.select(col("da"), col("db"), col("i"), col("na"), col("nb"),
          (col("i") * lit(1.0) / col("na")).as("cab"),
          (col("i") * lit(1.0) / col("nb")).as("cba"))
        .filter(greatest(col("cab"), col("cba")) >= threshold))
  }

  /** Runs `measure` over the intersection core and returns its pairs
    * materialized. The shingle table feeds the size aggregate, both index
    * sides and (capped) the df aggregate, so it is held for the build. */
  private def overIntersections(shinglesIn: DataFrame, dfCap: Option[Long])(
      measure: DataFrame => DataFrame): DataFrame = {
    val shinglesHeld = hold(shinglesIn)
    materialized(measure(ngramIntersections(shinglesHeld.df, dfCap)), shinglesHeld)
  }

  /** The set-similarity join core: every doc pair sharing at least one
    * candidate-generating shingle, as (da, db, i, na, nb) with da < db,
    * `i = |A∩B|` and `na`/`nb` the two set sizes — EXACT over the full
    * shingle sets either way. Unmaterialized and package-private so
    * PlanShapeSpec can gate its dataflow before [[materialized]] hides
    * it behind an InMemoryRelation.
    *
    *  - `dfCap = None`: the plain inverted-index self-join (sharing count
    *    = intersection) plus two doc-keyed size joins. Nothing runs while
    *    the frame is built.
    *  - `dfCap = Some(cap)`: the stop-shingle guard. A shingle shared by k
    *    docs contributes k² candidate join rows, so one Zipf-head trigram
    *    makes the plain join quadratic in corpus size. Shingles with
    *    df > cap (the stop set) are ANTI-JOINED out of the candidate
    *    index, and the intersection is a split count `i = i_rare +
    *    i_stop`: `i_rare` falls out of the capped self-join (one row per
    *    shared rare shingle), and `i_stop` intersects the two docs' stop
    *    shingles, left-semi selected and carried per doc through the size
    *    joins — no pair-keyed recount. A pair is missed only if EVERY
    *    shared shingle has df > cap.
    *
    * Construction-time action: `Some(cap)` runs ONE bounded `collect()`
    * of the stop set over the (held) shingle table while the frame is
    * built. The stop set is the Zipf head (at most rows/cap shingles, the
    * same driver-side bound a broadcast of it has), and it enters the
    * plan as a broadcast local relation, so the df aggregate is not run
    * again. An empty stop set would leave the guard's anti-join,
    * semi-join and stop-set stages running over empty inputs, so the plan
    * then degenerates to the `None` plan. The branch is frozen into the
    * returned plan: it stays valid only while the input is unchanged.
    * ROADMAP #2 owns removing this job. */
  private[graft] def ngramIntersections(shingles: DataFrame, dfCap: Option[Long]): DataFrame = {
    dfCap.foreach(c => require(c >= 1, s"dfCap must be >= 1, got $c"))
    val sz = shingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
    def sharedCount(idx: DataFrame): DataFrame = {
      val a = idx.select(col("doc_id").as("da"), col("w"))
      val b = idx.select(col("doc_id").as("db"), col("w").as("wb"))
      a.join(b, col("w") === col("wb") && col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).as("i"))
    }
    val stopAgg = shingles.groupBy("w").agg(count(lit(1)).as("df"))
    val stopRows = dfCap
      .map(c => stopAgg.filter(col("df") > c).select("w").collect()) // the construction-time job
      .filter(_.nonEmpty)
    stopRows match {
      case None =>
        sharedCount(shingles)
          .join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
          .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
          .select(col("da"), col("db"), col("i"), col("na"), col("nb"))
      case Some(rows) =>
        val stop = broadcast(shingles.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), stopAgg.select("w").schema))
        val stopSets = shingles.join(stop, Seq("w"), "left_semi")
          .groupBy("doc_id").agg(collect_list("w").as("s"))
        val sizes = sz.join(stopSets, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n"), coalesce(col("s"),
            array().cast(ArrayType(shingles.schema("w").dataType))).as("s"))
        sharedCount(shingles.join(stop, Seq("w"), "left_anti"))
          .join(sizes.select(col("doc_id").as("da"), col("n").as("na"), col("s").as("sa")), "da")
          .join(sizes.select(col("doc_id").as("db"), col("n").as("nb"), col("s").as("sb")), "db")
          .select(col("da"), col("db"),
            (col("i") + size(array_intersect(col("sa"), col("sb")))).as("i"),
            col("na"), col("nb"))
    }
  }

  /** Sorted-distinct-token fingerprint (md5) — collapses permuted /
    * re-ordered duplicates that exact text hashing misses. */
  def fingerprint(tokens: DataFrame): DataFrame =
    tokens.groupBy("doc_id")
      .agg(md5(array_join(array_sort(collect_set(col("w"))), " ")).as("fp"))

  /** Connected components over a near-dup pair table — the cluster
    * resolution step that turns pairwise LSH/SimHash/Jaccard matches into
    * dedup groups: near-duplication is not transitive, but the keep-one
    * policy of a dedup pipeline is applied per *component* (keep the
    * representative, drop every other member).
    *
    * Iterative minimum-label propagation WITH pointer jumping: every
    * vertex starts labeled with itself; each round (a) labels flow across
    * edges in both directions and every vertex keeps the minimum seen,
    * then (b) each vertex jumps to its representative's representative
    * (path halving). The edge step alone advances one hop per round
    * (O(component diameter) rounds — a chain longer than maxIter would
    * end wrong); the jump step halves label-chain depth each round, so
    * convergence is O(log diameter) — a 200-vertex chain converges in
    * ~9 rounds (tested) and maxIter=25 covers any graph whose diameter
    * fits in a double-exponential of 25. Each round is two shuffles
    * (edge groupBy-min + jump join) over O(V+E) rows — the same
    * per-round shape as large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"; that variant is
    * implemented as [[connectedComponentsStars]] for hub-heavy or
    * adversarially deep graphs — equivalence pinned in DedupSpec).
    *
    * Per round the labels are checkpointed: without truncation the
    * logical plan doubles per iteration (the classic iterative-lineage
    * explosion). Default is `localCheckpoint` (executor-local blocks —
    * fastest, but lost with an executor or the driver). Pass
    * `checkpointDir` for RELIABLE checkpointing on a long cluster run:
    * each round's labels are then written to that (HDFS/object-store)
    * directory and the multi-hour CC of a 100 TB dedup survives executor
    * loss instead of recomputing from round 0. Reliable snapshots are NOT
    * removed by Spark (the ContextCleaner only deletes them when the RDD
    * is GC'd AND `spark.cleaner.referenceTracking.cleanCheckpoints` was
    * set at driver start), so without intervention ~2 snapshots per round
    * accumulate — at 100 TB that is real storage. This implementation
    * therefore deletes superseded snapshots itself after each round's
    * labels checkpoint is materialized (only the newest snapshot — the
    * one backing the live `labels` frame — is kept). Reclamation tracks
    * the EXACT paths this call's own checkpoints created (read back from
    * each checkpointed RDD), never inferring liveness from directory
    * listings — snapshots belonging to any other checkpoint user of the
    * same SparkContext (a concurrent CC call, unrelated user code) are
    * untouchable by construction. The FINAL snapshot stays behind because
    * it backs the returned DataFrame: pass a dedicated directory and
    * remove it once the result is consumed (repeated runs against one
    * directory therefore leave one final snapshot each — those back
    * results whose lifetime only the caller knows).
    *
    * Convergence test: labels only ever decrease, so the label sum is
    * monotone non-increasing and "sum unchanged" is an exact fixpoint test
    * — one tiny aggregate per round instead of a join-and-compare. Ids
    * must be numeric (sum-able); the sum is taken at decimal(38,0) so any
    * long id range is overflow-safe. Hitting `maxIter` without a fixpoint
    * THROWS rather than returning a silently-wrong labeling.
    *
    * Returns (id, rep): the component representative (minimum member id)
    * for every vertex that appears in `pairs`.
    */
  /** Shared iterative-lineage truncation for the CC variants: per-round
    * `localCheckpoint` by default, reliable `checkpoint` when a directory
    * is given, plus the best-effort reclamation of superseded snapshots
    * (see [[connectedComponents]]'s scaladoc for why Spark never deletes
    * those itself).
    *
    * Reclamation deletes ONLY snapshot paths this call itself created:
    * each `checkpoint()`'s materialized path is read back from the
    * checkpointed RDD (the returned frame's plan is a `LogicalRDD` over
    * it) and recorded; cleanup drops every recorded path but the newest.
    * Directory listings are never consulted, so snapshots from any other
    * checkpoint user of the same SparkContext — concurrent CC calls,
    * unrelated user checkpoints, leftovers from prior runs — can never be
    * collected by this call, no matter where the context's checkpoint
    * location pointed when they were written.
    *
    * The context checkpoint location is only (re)set when it is not
    * already inside `dir` — `setCheckpointDir` mints a fresh UUID
    * subdirectory on every call, so repeated CC runs against one
    * directory would otherwise scatter one subdirectory per run. */
  private def truncation(
      df: DataFrame, checkpointDir: Option[String]): (DataFrame => DataFrame, () => Unit) = {
    val sc = df.sparkSession.sparkContext
    checkpointDir match {
      case Some(dir) =>
        val want = new org.apache.hadoop.fs.Path(dir)
        val fs = want.getFileSystem(sc.hadoopConfiguration)
        val alreadyInside = sc.getCheckpointDir.exists { cur =>
          val parent = new org.apache.hadoop.fs.Path(cur).getParent
          parent != null && fs.makeQualified(parent) == fs.makeQualified(want)
        }
        if (!alreadyInside) sc.setCheckpointDir(dir)
        val created = scala.collection.mutable.ArrayBuffer.empty[String]
        val truncate = (d: DataFrame) => {
          val out = d.checkpoint()
          out.queryExecution.logical.collectFirst {
            case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getCheckpointFile
          }.flatten.foreach(created += _)
          out
        }
        val clean = () => {
          // Best-effort: a failed delete must not fail the CC itself
          // (the snapshot is merely orphaned, as it would be without
          // reclamation at all).
          while (created.length > 1) {
            val p = new org.apache.hadoop.fs.Path(created.remove(0))
            try p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
            catch { case scala.util.control.NonFatal(_) => () }
          }
        }
        (truncate, clean)
      case None => ((d: DataFrame) => graft.Materialize(d), () => ())
    }
  }

  def connectedComponents(
      pairs: DataFrame, a: String = "da", b: String = "db",
      maxIter: Int = 25, checkpointDir: Option[String] = None): DataFrame = {
    // reliable vs local truncation: same plan either way, different
    // durability (see scaladoc). `checkpoint()` requires the context
    // checkpoint dir; set it from the parameter (idempotent), never unset.
    val (truncate, dropStaleSnapshots) = truncation(pairs, checkpointDir)
    // defensive hygiene: a NULL endpoint would create a NULL vertex whose
    // label never resolves, and a self-pair adds nothing
    val clean = pairs.filter(col(a).isNotNull && col(b).isNotNull && col(a) =!= col(b))
    val edges = clean.select(col(a).as("src"), col(b).as("dst"))
      .union(clean.select(col(b).as("src"), col(a).as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("rep"))
      .transform(truncate)
    def labelSum(df: DataFrame): Any =
      df.agg(sum(col("rep").cast("decimal(38,0)"))).head.get(0)
    var prev = labelSum(labels)
    var converged = prev == null // empty pair table → nothing to iterate
    var it = 0
    while (!converged && it < maxIter) {
      // (a) edge propagation: min over own label and neighbors' labels.
      // Checkpointed BEFORE the jump join: both join sides read it, and
      // without materialization each side would re-execute the groupBy.
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("rep"))
      val propagated = labels.union(prop)
        .groupBy("id").agg(min("rep").as("rep"))
        .transform(truncate)
      // (b) pointer jump: rep := rep's rep (labels are monotone, so the
      // jump target is always <= the current rep; left join keeps roots,
      // whose rep is not itself a vertex key with a smaller label)
      val jump = propagated.select(col("rep").as("jid"), col("id"), col("rep"))
      val reps = propagated.select(col("id").as("jid"), col("rep").as("rep2"))
      labels = jump.join(reps, Seq("jid"), "left")
        .select(col("id"), coalesce(col("rep2"), col("rep")).as("rep"))
        .transform(truncate)
      val s = labelSum(labels)
      converged = s == prev
      prev = s
      it += 1
      // the round's labels checkpoint is materialized (checkpoint() is
      // eager); the round's propagated snapshot and all earlier rounds'
      // are now unreferenced — reclaim them (no-op for localCheckpoint)
      dropStaleSnapshots()
    }
    edges.unpersist(blocking = false)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
      "component diameter exceeds the double-exponential reach of the " +
      "pointer-jumped propagation; raise maxIter")
    labels
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — the
    * literature-standard alternative to [[connectedComponents]]'s
    * label-propagation + pointer-jumping, with the identical (id, rep =
    * component minimum) contract (equivalence pinned in DedupSpec,
    * including a 10k-vertex chain).
    *
    * Where the two differ at scale: here the state IS the edge set — each
    * round rewrites edges toward one star per component — while the
    * sibling keeps a per-vertex label table re-joined against the static
    * edge set every round. On graphs with extreme-degree hubs (a
    * boilerplate document near-duplicate to millions of others) the
    * sibling re-shuffles the hub's full edge list every round; here
    * large-star re-points the hub's neighbors at the component minimum
    * and those edges then collapse under `distinct`, shrinking the
    * working set as it converges. Convergence: O(log n) rounds
    * (alternation theorem 4.2 of the paper), vs O(log diameter) for the
    * pointer-jumped sibling.
    *
    * MEASURED (the `cc_chainhub` a/b, 2×10⁵-edge chain+hub graph,
    * warm best-of-2; recorded in ROUND_NOTES.md, round 6, and
    * OPTIMIZATION_r21.md, probe source `Soak.scala` at 99b069a):
    * jumped 16.4 s, stars 24.4 s — stars pays ~6
    * shuffles per round (two symmetrize/orient passes, two groupBys, two
    * distincts) against the sibling's ~3, and at this scale per-round
    * cost dominates. The sibling therefore stays the default for every
    * in-tree pipeline (q57); this variant's practical value today is
    * (a) ids need no numeric form (below) and (b) algorithmic diversity
    * under the same oracle (q72 hash-gates both against DuckDB's
    * recursive CTE). Re-evaluate the default only with a measured win on
    * a real hub-heavy corpus.
    *
    * Per round: large-star connects every neighbor LARGER than a vertex
    * to the minimum of its closed neighborhood; small-star then re-points
    * the smaller neighbors and the vertex itself at that minimum. The
    * fixpoint (every edge already (child, componentMin)) is SCREENED by
    * an (edge-count, order-independent xxhash64 checksum) pair repeating
    * — two tiny aggregates per round. Unlike the sibling's label sum
    * (monotone, so equality is exact), a 64-bit hash-sum can in principle
    * collide between two different edge sets, so a signature match is
    * CONFIRMED exactly before declaring convergence: one anti-join
    * (`exceptAll` empty — with counts already equal, one side suffices
    * for set equality over these distinct edge sets) that runs only on
    * signature match, i.e. once per call. Hitting `maxIter` without the
    * fixpoint THROWS.
    *
    * Unlike the sibling (whose fixpoint test SUMS labels and therefore
    * needs numeric ids), this variant only compares and hashes ids — any
    * orderable type works, including raw string document keys (pinned in
    * DedupSpec), saving the id-assignment join a 100 TB corpus keyed by
    * URL or content hash would otherwise need. */
  def connectedComponentsStars(
      pairs: DataFrame, a: String = "da", b: String = "db",
      maxIter: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    val (truncate, dropStaleSnapshots) = truncation(pairs, checkpointDir)
    val cleanPairs = pairs.filter(col(a).isNotNull && col(b).isNotNull && col(a) =!= col(b))
    // edges as (u, v): undirected content, stored once per unordered pair
    var edges = cleanPairs
      .select(greatest(col(a), col(b)).as("u"), least(col(a), col(b)).as("v"))
      .distinct()
      .transform(truncate)

    // large-star: for each x, m = min(N(x) ∪ {x}); emit (y, m) for every
    // neighbor y > x. m <= x < y, so emitted edges are (greater, smaller)
    // and never self-loops.
    def largeStar(e: DataFrame): DataFrame = {
      val nbr = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val mins = nbr.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      nbr.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: orient every edge large→small; for each x,
    // m = min of its smaller neighbors; emit (y, m) for the other smaller
    // neighbors and (x, m) for x itself.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("x"), least(col("u"), col("v")).as("y"))
      val mins = dir.groupBy("x").agg(min(col("y")).as("m"))
      dir.join(mins, "x")
        .filter(col("y") =!= col("m"))
        .select(col("y").as("u"), col("m").as("v"))
        .union(mins.select(col("x").as("u"), col("m").as("v")))
        .distinct()
    }

    def sig(e: DataFrame): (Long, Any) = {
      val r = e.agg(
        count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head
      (r.getLong(0), r.get(1))
    }
    var prev = sig(edges)
    var converged = prev._1 == 0L // empty pair table → nothing to iterate
    var it = 0
    while (!converged && it < maxIter) {
      val prevEdges = edges
      // NOTE (r21, measured NEGATIVE — do not re-attempt): batching TWO
      // large/small alternations per materialization (the langid/BPE
      // §2.6 pattern, to halve the ~30 dispatch-floor jobs this loop
      // costs at sf0.1) ran 8× SLOWER (OptLab q72ab interleaved:
      // apr1 1.30 s vs apr2 10.15 s best-of-5): each star consumes its
      // input through THREE branches (mins, the join side, the union
      // leg), so without the per-pair materialization barrier the
      // second pair re-executes the first pair's whole 6-exchange
      // subtree once per branch — the blow-up is multiplicative, and
      // static ReuseExchange does not rescue map-side-divergent
      // subtrees. One alternation per materialized round is the
      // correct cadence for this operator.
      edges = smallStar(largeStar(edges)).transform(truncate)
      val s = sig(edges)
      // exact confirmation BEFORE the stale-snapshot drop (prevEdges'
      // snapshot must still exist to be compared against)
      converged = s == prev && edges.exceptAll(prevEdges).isEmpty
      prev = s
      it += 1
      dropStaleSnapshots()
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStars did not converge in $maxIter rounds; raise maxIter")
    // fixpoint edges are (member, componentMin) stars; roots carry no
    // outgoing edge and label themselves
    edges.select(col("u").as("id"), col("v").as("rep"))
      .union(edges.select(col("v").as("id"), col("v").as("rep")))
      .distinct()
  }

  /** Train/eval DECONTAMINATION — the corpus-build step that keeps
    * benchmark answers out of the training set: a training document is
    * contaminated when it shares any token `n`-gram with any eval
    * document (the published recipe: GPT-3 app. C / PaLM use 8–13-gram
    * collision against the benchmark suites). Returns one row per
    * contaminated train doc: (doc_id, n_shared = distinct shared
    * shingles) — callers anti-join this against the corpus to drop or
    * audit.
    *
    * Shuffle shape: both sides map to distinct (doc, shingle) via the
    * native `word_ngrams` expression (no aggregation), then one equi-join
    * on the shingle string and one groupBy on the flagged doc id. The
    * eval side collapses to DISTINCT shingles first — benchmark suites
    * are tiny next to a 100 TB corpus, so AQE broadcasts that side and
    * the train side never shuffles at all; with a pathologically large
    * eval set the plan degrades to a plain shuffled equi-join, still
    * linear.
    *
    * `normalize = true` runs [[graft.functions.TextOps.normalizeText]]
    * (lowercase, punctuation → space, whitespace collapsed) on BOTH sides
    * before shingling — the published recipes normalize before matching,
    * because a benchmark answer that was re-punctuated or re-wrapped when
    * pasted into a training document otherwise escapes the exact n-gram
    * collision (pinned in DedupSpec). Off by default: normalization
    * changes which n-grams exist, so it is part of a pipeline's contract.
    *
    * `evalDfCap = Some(k)` drops eval-side shingles that appear in more
    * than `k` DISTINCT eval documents before the join — the q33 stop-
    * shingle escape hatch for boilerplate n-grams (license headers,
    * shared prompt preambles) that would otherwise flag half the corpus.
    * The df pass runs on the SMALL side only, so it costs one aggregate
    * over the eval shingles, nothing on the train side. */
  def crossContamination(
      train: DataFrame, eval: DataFrame, id: Column, text: Column,
      n: Int = 8, normalize: Boolean = false,
      evalDfCap: Option[Long] = None): DataFrame = {
    evalDfCap.foreach(c => require(c >= 1, s"evalDfCap must be >= 1, got $c"))
    val t = if (normalize) TextOps.normalizeText(text) else text
    // n_shared counts DISTINCT shared shingles, which relies on the train
    // side being distinct per (doc_id, w). shingleSet guarantees that
    // today; the defensive distinct() pins the invariant HERE and is free
    // (RemoveRedundantAggregates collapses back-to-back identical
    // aggregates, so no second shuffle is planned).
    val trainShingles = shingleSet(train, id, t, n).distinct()
    val evalSh = shingleSet(eval, id, t, n)
    val evalShingles = evalDfCap match {
      case Some(cap) =>
        evalSh.groupBy("w").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("w")
      case None => evalSh.select(col("w")).distinct()
    }
    trainShingles.join(evalShingles, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_shared"))
  }

  /** GRADED contamination score — [[crossContamination]] reports which
    * docs overlap the eval suite and by how many shingles; this reports
    * every doc's contaminated FRACTION `n_shared / n_shingles`, the form
    * soft-filtering pipelines threshold on ("drop above 20% overlap,
    * audit 5–20%") rather than the binary flag. One LEFT join against the
    * distinct-collapsed eval shingles (clean docs keep a 0.0 row — the
    * whole point of the graded form) and one doc-keyed aggregate; the
    * train side is scanned once and the eval side stays a dimension, so
    * the shape is q74's. Docs with fewer than `n` tokens have no
    * shingles and hence no row (fraction of an empty set is undefined —
    * callers wanting them use a left join from the corpus). */
  def contaminationFraction(
      train: DataFrame, eval: DataFrame, id: Column, text: Column,
      n: Int = 8, normalize: Boolean = false): DataFrame = {
    val t = if (normalize) TextOps.normalizeText(text) else text
    val trainShingles = shingleSet(train, id, t, n)
    val evalShingles = shingleSet(eval, id, t, n)
      .select("w").distinct().withColumn("__hit", lit(1L))
    trainShingles.join(evalShingles, Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
      .withColumn("frac", col("n_shared") / col("n_shingles"))
  }

  /** EXACT-dup incremental guard — the everyday cheap operation next to
    * [[incrementalNearDups]]'s near-dup machinery: "which new-batch docs
    * are verbatim copies of something already in the corpus, without
    * re-shuffling the corpus". Two passes:
    *
    *  1. one distributed aggregate over the persisted corpus hash table
    *     builds a bloom filter of `xxhash64(md5)` values (Spark's own
    *     `BloomFilterAggregate`, registered via
    *     [[graft.plans.GraftFunctions]]); only the fixed-size bit array
    *     (`numBits/8` bytes — sized by the caller's fpp budget, NOT by
    *     data volume) reaches the driver;
    *  2. the batch scan probes it as a foldable literal through the
    *     codegen'd `bloom_might_contain`, and only the surviving
    *     candidates — true dups plus the fpp sliver — enter the exact
    *     confirm join against the corpus hashes.
    *
    * The bloom can only produce false POSITIVES, never negatives, so the
    * confirmed output equals the plain join's (pinned in DedupSpec) while
    * the daily batch never shuffles: candidates are typically few enough
    * that AQE broadcasts them into the corpus-side join. Default sizing
    * is ~10 bits/item (~1% fpp); `spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems/maxNumBits` bound what one aggregate may build — past
    * those, partition the corpus and OR the blooms, or fall back to the
    * plain shuffled join.
    *
    * Returns confirmed (doc_id, corpus_id) pairs, one per copy held by
    * the corpus. `corpusHashes` is (doc_id, md5) — the same persisted
    * side-table discipline as [[incrementalNearDups]]'s signatures. */
  def exactDupsAgainstCorpus(
      corpusHashes: DataFrame, batch: DataFrame, id: Column, text: Column,
      expectedItems: Long, numBits: Long = 0L): DataFrame = {
    require(expectedItems >= 1, s"expectedItems must be >= 1, got $expectedItems")
    val bits = if (numBits > 0L) numBits else math.max(64L, expectedItems * 10L)
    graft.plans.GraftFunctions.ensureRegistered(batch.sparkSession)
    val bloomRow = corpusHashes
      .agg(call_function("bloom_filter_agg",
        xxhash64(col("md5")), lit(expectedItems), lit(bits)).as("bf"))
      .head()
    val bh = batch.select(id.as("doc_id"), md5(text).as("md5"))
    // empty corpus → null bloom → nothing can be a dup
    val cand =
      if (bloomRow.isNullAt(0)) bh.filter(lit(false))
      else bh.filter(call_function("bloom_might_contain",
        lit(bloomRow.getAs[Array[Byte]](0)), xxhash64(col("md5"))))
    cand.join(corpusHashes.select(col("doc_id").as("corpus_id"), col("md5")), "md5")
      .select(col("doc_id"), col("corpus_id"))
  }

  /** EXACT-SUBSTRING decontamination — the Lee et al. ("Deduplicating
    * Training Data Makes Language Models Better") exact-substring method
    * next to [[crossContamination]]'s n-gram collision COUNTS: report
    * each maximal run of ≥ `minRun` consecutive shared tokens between a
    * train and an eval document as one row (doc_id, eval_id, pos_train,
    * pos_eval, run_len), 1-based token positions. A 50-token verbatim
    * benchmark quote surfaces as ONE run_len=50 row here, where the
    * n-gram counter reports it only as 43 8-gram hits.
    *
    * Method: positional `minRun`-shingles on both sides (a run of
    * exactly minRun−1 tokens yields NO shingle match — the fencepost the
    * spec pins), one equi-join on the shingle, then gaps-and-islands
    * run-collapse along each match diagonal: within (doc_id, eval_id,
    * diag = pos_train − pos_eval) consecutive positions collapse via the
    * `pos − row_number()` island key, and an island of c matches covers
    * c + minRun − 1 tokens. `pos_train` is unique within a diagonal by
    * construction (one shingle per position), so the window order is
    * tie-free.
    *
    * Shuffle shape: both sides are map-only posexplodes; the eval side
    * is benchmark-sized so AQE broadcasts the join, leaving the 100 TB
    * train side shuffle-free until the match table — which holds only
    * colliding positions, orders of magnitude smaller than the corpus.
    * The window and the island groupBy cluster on the same leading keys,
    * so they share one exchange. */
  /** Positional `n`-shingles, (idAs, posAs, w) with 1-based long
    * positions — the shared front end of the exact-substring operators. */
  private def positionalShingles(
      df: DataFrame, id: Column, text: Column, n: Int,
      idAs: String, posAs: String): DataFrame =
    df.select(id.as(idAs), TextOps.tokens(text).as("__s"))
      .select(col(idAs),
        posexplode(TextOps.shinglesNative(col("__s"), n)).as(Seq(posAs, "w")))
      .withColumn(posAs, (col(posAs) + 1).cast("long")) // 1-based, oracle-typed

  /** Collapse positional shingle matches into maximal runs: within each
    * (left id, right id, diagonal) group, consecutive left positions form
    * an island of c matches covering c + minRun − 1 tokens. */
  private def collapseRuns(
      matches: DataFrame, leftId: String, rightId: String,
      leftPos: String, rightPos: String, minRun: Int,
      outCols: (String, String)): DataFrame = {
    val wI = org.apache.spark.sql.expressions.Window
      .partitionBy(leftId, rightId, "diag").orderBy(leftPos)
    matches
      .withColumn("diag", col(leftPos) - col(rightPos))
      .withColumn("island", col(leftPos) - row_number().over(wI))
      .groupBy(col(leftId), col(rightId), col("diag"), col("island"))
      .agg(min(leftPos).as(outCols._1), min(rightPos).as(outCols._2),
        (max(leftPos) - min(leftPos) + minRun).as("run_len"))
      .select(col(leftId), col(rightId), col(outCols._1), col(outCols._2), col("run_len"))
  }

  def exactSubstringRuns(
      train: DataFrame, eval: DataFrame, id: Column, text: Column,
      minRun: Int = 8): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    val tr = positionalShingles(train, id, text, minRun, "doc_id", "pt")
    val ev = positionalShingles(eval, id, text, minRun, "eval_id", "pe")
    collapseRuns(tr.join(ev, "w"), "doc_id", "eval_id", "pt", "pe", minRun,
      ("pos_train", "pos_eval"))
  }

  /** EXACT-SUBSTRING self dedup — [[exactSubstringRuns]] turned on the
    * corpus itself, which is the actual Lee et al. DEDUP operation (their
    * decontamination is the train/eval special case): every maximal
    * verbatim run of ≥ `minRun` shared tokens between two DISTINCT
    * documents, `(da < db, pos_a, pos_b, run_len)`. The `da < db`
    * orientation halves the match table and excludes both self-pairs and
    * within-document repeats (a doc quoting itself is repetition — q79's
    * job — not duplication).
    *
    * Shuffle shape: the positional shingle table self-joins on the
    * shingle string — one shuffle of the (id, pos, shingle) table, with
    * only COLLIDING positions surviving into the run-collapse (which
    * clusters on the same leading keys as the join output's groupBy; one
    * more exchange). On a Zipfian corpus, boilerplate shingles make this
    * join quadratic per hot shingle — `dfCap` drops shingles present in
    * more than `cap` distinct documents before the join (the q33/q74
    * stop-shingle escape hatch; a shingle in 10k docs is boilerplate, not
    * plagiarism evidence). */
  def exactSubstringSelfRuns(
      docs: DataFrame, id: Column, text: Column,
      minRun: Int = 8, dfCap: Option[Long] = None): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    dfCap.foreach(c => require(c >= 2, s"dfCap must be >= 2, got $c"))
    // Persisted (r20): the tokenize+shingle explode is map-side, so no
    // exchange boundary exists for Reuse/stage-dedup to latch onto, and
    // the plan executed it once per consumer — BOTH self-join sides,
    // plus the df-cap aggregate and its anti-join probe when capped:
    // four full explodes of the corpus in the dfCap plan (plan-counted,
    // r20). One disk-spillable cache of the shingle table replaces
    // three recomputes; Bench's cold reps clear it between runs.
    val shHeld = hold(positionalShingles(docs, id, text, minRun, "doc_id", "pos"))
    val sh = shHeld.df
    val kept = dfCap match {
      case Some(cap) =>
        val hot = sh.groupBy("w")
          .agg(countDistinct(col("doc_id")).as("__df"))
          .filter(col("__df") > cap).select("w")
        sh.join(hot, Seq("w"), "left_anti")
      case None => sh
    }
    val a = kept.select(col("doc_id").as("da"), col("pos").as("pa"), col("w"))
    val b = kept.select(col("doc_id").as("db"), col("pos").as("pb"), col("w"))
    // materialize the (bounded) run table, then release the exploded
    // shingle cache — the r21 lifecycle rule (CacheDiscipline)
    materialized(collapseRuns(
      a.join(b, "w").filter(col("da") < col("db")),
      "da", "db", "pa", "pb", minRun, ("pos_a", "pos_b")), shHeld)
  }

  /** DUPLICATED-SPAN REPORT — the Lee et al. SUFFIX-ARRAY formulation's
    * output, Spark-first (VERDICT r18 "what's missing" #3): every maximal
    * per-document interval of tokens that is verbatim-shared with at
    * least `minDocs − 1` OTHER documents, `(doc_id, pos, run_len)` in
    * 1-based token positions — exactly what Lee et al. compute from the
    * concatenated-corpus suffix array + LCP intervals, and (with
    * `pos` renamed to `pos_train`) the input [[removeSubstringRuns]]
    * consumes.
    *
    * WHY this is the suffix-array sibling and not another pair join:
    * what the SA + LCP structure buys Lee et al. is finding every
    * repeated-substring OCCURRENCE without materializing the pairwise
    * match table — an LCP interval with c suffixes names c duplicated
    * positions directly, where the positional-shingle SELF-JOIN
    * ([[exactSubstringSelfRuns]]) pays c² rows for the same information
    * and needs the `dfCap` escape hatch on Zipfian corpora. The
    * order-theoretic content of the SA that dedup uses is only the
    * EQUALITY CLASSES of fixed `minRun`-token prefixes (an LCP ≥ minRun
    * interval = one equal-shingle group); Spark's hash aggregate
    * computes those classes in ONE corpus-keyed exchange with no suffix
    * sorting, no prefix-doubling rounds, and no global rank windows — so
    * the faithful Spark-native form of the data structure is: count
    * distinct documents per positional shingle, keep positions of
    * shingles reaching `minDocs`, collapse consecutive positions per
    * document into maximal islands (`pos − row_number`, the
    * [[exactSubstringRuns]] discipline).
    *
    * Shuffle shape — the A/B vs the shingle join: one (w)-keyed count
    * aggregate (map-side combined), one semi join back, one doc-keyed
    * island window — every stage LINEAR in the corpus, boilerplate-proof
    * by construction (a shingle in 10k documents contributes 10k rows
    * here, 10k²/2 to the self-join; the soak's Zipfian skew corpus is
    * the measured case). The pair form stays the right tool when the
    * QUESTION is pairwise ("who copied whom", q88's gate); this is the
    * scale path when the question is "which spans are duplicated"
    * (removal, the actual Lee et al. dedup step). DedupSpec pins the
    * equivalence: per document, these spans equal the merged union of
    * q88's pair-run shingle intervals on the same corpus.
    *
    * MEASURED CROSSOVER (the `spans_skew` r19 + `spans_scale` r20
    * probes, recorded in ROUND_NOTES.md rounds 19 and 20, probe source
    * `Soak.scala` at 99b069a; the hot-banner corpus where every doc shares an 11-token opener): the
    * two forms part ways immediately and never re-converge — 4k→16k
    * docs grows the span wall 0.69→0.86 s (output = n rows by closed
    * form) while the uncapped pair join grows 2.5→143 s (output =
    * n(n−1)/2 = 128M rows at 16k); at r20's ×100 leg the span form
    * does 400k docs in 1.57 s (growth 1.21× over ×4 docs) where the
    * quadratic law prices the pair join's banner output at ~80G rows.
    * Below ~4k docs the two walls are within dispatch noise of each
    * other, so there is no size at which the pair join is the better
    * REMOVAL feed — use spans for removal at every scale (the
    * end-to-end corpus build does, PipelineEndToEndSpec stage 4), and
    * the pair join only when the pairwise attribution is the answer. */
  def duplicatedSpans(
      docs: DataFrame, id: Column, text: Column,
      minRun: Int = 8, minDocs: Int = 2): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val sh = positionalShingles(docs, id, text, minRun, "doc_id", "pos")
    // shingles shared by >= minDocs DISTINCT documents (the q88 da<db
    // orientation's rule: a document quoting itself is repetition —
    // q79's job — not duplication)
    val shared = sh.groupBy("w")
      .agg(countDistinct(col("doc_id")).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select("w")
    val wI = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    sh.join(shared, Seq("w"), "left_semi")
      .withColumn("island", col("pos") - row_number().over(wI))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("pos"),
        (max(col("pos")) - min(col("pos")) + minRun).as("run_len"))
      .select(col("doc_id"), col("pos"), col("run_len"))
  }

  /** EXACT-SUBSTRING REMOVAL — the ACT half of [[exactSubstringRuns]]'s
    * report: the Lee et al. pipeline cuts each flagged verbatim span out
    * of the TRAINING copy (the eval/benchmark text is immutable), leaving
    * the rest of the document intact. Give it the run table the report
    * step produced — `(doc_id, pos_train, run_len)` in 1-based token
    * positions, extra columns ignored — and it returns one row per
    * AFFECTED document: `(doc_id, n_tokens, n_removed, text_clean)` where
    * `text_clean` re-joins the surviving tokens with single spaces (the
    * same whitespace normalization [[graft.functions.TextOps.tokens]]
    * applies on the way in). Overlapping spans from different eval
    * documents are unioned, not double-counted; a fully-covered document
    * stays in the output with `text_clean = ""` (dropping it entirely is
    * the caller's policy call, not this operator's).
    *
    * Shuffle shape: spans explode only the RUN table (collision-sized,
    * orders of magnitude below the corpus); a semi join on the affected
    * ids keeps the corpus scan for the untouched 99.9% of a 100 TB corpus
    * completely free of tokenization — only affected documents posexplode.
    * The left join marking covered positions and the order-restoring
    * `array_sort(collect_list(struct(pos, tok)))` re-assembly both key on
    * doc_id, so they share one exchange. */
  def removeSubstringRuns(
      train: DataFrame, id: Column, text: Column, runs: DataFrame): DataFrame = {
    // Persisted (r21, plan-counted): `spans` has TWO consumers — the
    // affected-ids semi-join side and the coverage join — and `runs` is
    // typically an unmaterialized dag (q110 hands in the whole
    // exactSubstringRuns two-corpus shingle join), which the plan
    // otherwise re-executes once per consumer. The span table is
    // bounded by the total flagged tokens; released on return per the
    // r21 lifecycle rule.
    val spansHeld = hold(runs
      .select(col("doc_id").as("__rs_id"),
        explode(sequence(col("pos_train"),
          col("pos_train") + col("run_len") - 1)).as("__rs_pos"))
      .distinct()
      .withColumn("__rs_cov", lit(1)))
    val spans = spansHeld.df
    val affected = spans.select("__rs_id").distinct()
    val toks = train
      .select(id.as("__rs_id"), TextOps.tokens(text).as("__rs_toks"))
      .join(affected, Seq("__rs_id"), "left_semi")
      .select(col("__rs_id"), size(col("__rs_toks")).cast("long").as("__rs_n"),
        posexplode(col("__rs_toks")).as(Seq("__rs_i", "__rs_tok")))
      .withColumn("__rs_pos", (col("__rs_i") + 1).cast("long"))
    materialized(
      toks.join(spans, Seq("__rs_id", "__rs_pos"), "left")
        .groupBy(col("__rs_id").as("doc_id"))
        .agg(
          max(col("__rs_n")).as("n_tokens"),
          sum(when(col("__rs_cov").isNotNull, 1L).otherwise(0L)).as("n_removed"),
          array_join(transform(
            array_sort(collect_list(when(col("__rs_cov").isNull,
              struct(col("__rs_pos"), col("__rs_tok"))))),
            _.getField("__rs_tok")), " ").as("text_clean")),
      spansHeld)
  }

  /** WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    * the MOSS sketch): hash every positional k-shingle, slide a w-hash
    * window over each document, select every window's MINIMUM, keep the
    * distinct selected hashes. The detection guarantee the other
    * sketches lack: any shared token run of length ≥ k + w − 1 plants
    * at least one IDENTICAL fingerprint in both documents, at ~2/(w+1)
    * sketch density — position-robust (an insertion shifts positions;
    * local minima re-select), sitting between MinHash (whole-document
    * set overlap only) and the exact-substring join (full positional
    * index). One map pass + one per-doc window + distinct; joining
    * fingerprints IS the candidate detector, at sketch size rather than
    * shingle size. Windows are complete-only (`pos ≥ w`), matching the
    * published construction. Returns (doc_id, fp) distinct. */
  def winnowFingerprints(
      docs: DataFrame, id: Column, text: Column,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val ps = positionalShingles(docs, id, text, k, "doc_id", "pos")
      .withColumn("h", md5(col("w")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(w - 1), org.apache.spark.sql.expressions.Window.currentRow)
    ps.withColumn("fp", min(col("h")).over(win))
      .filter(col("pos") >= w)
      .select("doc_id", "fp").distinct()
  }

  /** The keep-one-per-cluster dedup policy, end to end: resolve `pairs`
    * into components and anti-join every non-representative member out of
    * `docs`. This is the call a corpus build actually makes; q57 exposes
    * the intermediate cluster table for auditing. The surviving set is
    * pair-free by construction (re-running the pair detector on it finds
    * nothing — asserted in PipelineEndToEndSpec). */
  def dropNearDups(docs: DataFrame, id: Column, pairs: DataFrame): DataFrame =
    dropNearDupsByComponents(docs, id, connectedComponents(pairs))

  /** [[dropNearDups]] against an ALREADY-RESOLVED component table
    * `(id, rep)` — the entry point for suites that share one CC run
    * across several policies ([[graft.Tables.documentNearDupComponents]]):
    * resolving components is the iterative, expensive step; the policy
    * itself is one filter + one anti-join. */
  def dropNearDupsByComponents(docs: DataFrame, id: Column, comp: DataFrame): DataFrame = {
    val losers = comp
      .filter(col("id") =!= col("rep"))
      .select(col("id").as("__dropId"))
    docs.join(losers, id === col("__dropId"), "left_anti")
  }

  /** Keep-BEST dedup policy — [[dropNearDups]] keeps each cluster's
    * min-id member (arbitrary but cheap); a production corpus build
    * keeps the highest-QUALITY copy: the longest crawl of a mirrored
    * page, the highest-scoring paraphrase twin. Resolve components,
    * rank each cluster's members by `(quality DESC, id)` (the id
    * tie-break keeps the choice total), anti-join everyone below rank 1
    * out of `docs`. The ranking runs over the CLUSTER-MEMBER table (LSH
    * pair-sized, not corpus-sized); untouched docs never shuffle —
    * same anti-join shape as [[dropNearDups]]. */
  def keepBestNearDups(
      docs: DataFrame, id: Column, quality: Column, pairs: DataFrame): DataFrame =
    keepBestNearDupsByComponents(docs, id, quality, connectedComponents(pairs))

  /** [[keepBestNearDups]] against a pre-resolved component table —
    * see [[dropNearDupsByComponents]] for why the split exists. */
  def keepBestNearDupsByComponents(
      docs: DataFrame, id: Column, quality: Column, comp: DataFrame): DataFrame = {
    val members = docs.select(id.as("__kb_id"), quality.as("__kb_q"))
      .join(comp, col("__kb_id") === col("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("rep").orderBy(col("__kb_q").desc_nulls_last, col("__kb_id"))
    val losers = members.withColumn("__kb_rn", row_number().over(w))
      .filter(col("__kb_rn") =!= 1)
      .select(col("__kb_id").as("__dropId"))
    docs.join(losers, id === col("__dropId"), "left_anti")
  }

  /** CORPUS-LEVEL duplicate-line removal — the CCNet/RefinedWeb line-dedup
    * stage, which document-level dedup cannot replace: navigation bars,
    * cookie banners and license headers repeat across MILLIONS of
    * otherwise-distinct pages, and they are removed line-by-line, keeping
    * exactly the FIRST occurrence corpus-wide (ordered by `(id, line
    * position)` so the answer is deterministic and re-runnable).
    *
    * `sep` picks the dedup unit: `"\n"` lines (default), `"\n\n"`
    * paragraphs — CCNet's actual unit — or any literal separator.
    *
    * Returns one row per input doc: `(id, n_lines, n_kept, text_clean)` —
    * `text_clean` re-joins the surviving lines IN ORDER (empty string when
    * every line was a repeat; docs whose text has no lines after
    * empty-filtering keep `n_lines = 0` and an empty `text_clean`).
    *
    * Distributed shape, sized for 100 TB:
    *  1. `posexplode` lines (map-side; line volume ≈ corpus text volume,
    *     same as every shingle operator here);
    *  2. ONE hash shuffle partitioned by the line text for the
    *     keep-first `row_number` window — this is CCNet's hash-shard
    *     step: each line's occurrence set lands on one partition, so
    *     "first occurrence" is decided locally, no global sort;
    *  3. ONE shuffle back to `id` to reassemble documents
    *     (`sort_array(collect_list(struct(pos, line)))` — per-doc arrays,
    *     bounded by doc length), plus a left join against the doc-id
    *     spine so docs whose every line was removed (or empty) still get
    *     their output row — id-only rows on the probe side, broadcast at
    *     test scale, co-partitioned SMJ at cluster scale.
    * Nothing is ever collected to the driver and no pairwise join exists
    * — cost is two exchanges of the line volume, independent of how
    * duplicated the corpus is. Skew note: a single line repeated billions
    * of times makes its window key one hot partition, and a window CANNOT
    * be skew-split (the partition-local sort must see the whole key). The
    * escape hatch at that regime is `hotKeySafe = true` — the ASSOCIATIVE
    * form: pre-aggregate `min(struct(id, pos))` per line (the same
    * lexicographic (id, pos) order the window sorts by; `min` is
    * associative, so map-side partial combine collapses the hot key to
    * one row PER INPUT PARTITION before anything shuffles), then re-key
    * the winners by their winning COORDINATES and left-join lines on
    * `(id, pos)` — a key that is unique by construction, so NO stage of
    * the associative form ever shuffles the hot key (joining back on the
    * line text would just recreate the hot partition inside the join —
    * measured slower than the window itself). The keep-first answer is
    * IDENTICAL (spec-pinned on a skew-salted corpus); the price is one
    * extra line-volume exchange for the flagging join. Measured
    * (`linededup_hotkey` probe, one 200 B line hot in every doc;
    * recorded in ROUND_NOTES.md, round 12, probe source `Soak.scala` at
    * 99b069a): window
    * 77.7 s vs associative 50.5 s at 16M hot rows, growth 29.0× vs
    * 20.7× over a 16× sweep. Default stays the window form: strictly
    * less shuffle on realistically-skewed corpora. */
  def dedupLinesAcrossCorpus(docs: DataFrame, id: Column, text: Column,
      sep: String = "\n", hotKeySafe: Boolean = false): DataFrame = {
    // sep = "\n\n" is CCNet's actual unit (paragraph-level corpus dedup);
    // the split pattern is quoted so a regex metacharacter separator
    // splits literally
    // null-id docs are dropped defensively (the CC operators' rule): they
    // cannot be reassembled under a null group key — all of them would
    // MERGE into one output row — and must not claim first occurrences
    val lines0 = docs
      .filter(id.isNotNull)
      .select(id.as("__ld_id"),
        posexplode(filter(split(text, java.util.regex.Pattern.quote(sep)),
          l => l =!= "")))
      .toDF("__ld_id", "__ld_pos", "__ld_line")
    // Persisted only on the hotKeySafe path (r20): its two stages (the
    // min(struct) winners aggregate and the coordinate flagging join)
    // both consume the map-side explode, which the plan otherwise
    // executes twice (plan-counted). The window form consumes lines
    // exactly once — no cache, no change.
    val linesHeld = if (hotKeySafe) Some(hold(lines0)) else None
    val lines = linesHeld.fold(lines0)(_.df)
    val kept =
      if (hotKeySafe) {
        // associative escape hatch, two skew-free stages:
        //  1. min(struct) per line — partial combine collapses the hot
        //     line to one row per INPUT partition before the shuffle;
        //  2. re-key the winners by their winning COORDINATES (id, pos)
        //     — unique by construction, so the flagging join's key is
        //     skew-free no matter how hot the line is (joining back on
        //     the line text would just recreate the hot partition in the
        //     join: measured 131 s vs the window's 82 s at 16M hot rows
        //     before this re-keying).
        val winners = lines
          .groupBy(col("__ld_line").as("__ld_fline"))
          .agg(min(struct(col("__ld_id"), col("__ld_pos"))).as("__ld_first"))
          .select(col("__ld_first")("__ld_id").as("__ld_wid"),
            col("__ld_first")("__ld_pos").as("__ld_wpos"),
            lit(1).as("__ld_win"))
        lines.join(winners,
            col("__ld_id") === col("__ld_wid") && col("__ld_pos") === col("__ld_wpos"),
            "left")
          .withColumn("__ld_rn", when(col("__ld_win").isNotNull, 1).otherwise(2))
      } else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__ld_line").orderBy(col("__ld_id"), col("__ld_pos"))
        lines.withColumn("__ld_rn", row_number().over(w))
      }
    val rebuilt = kept
      .groupBy(col("__ld_id").as("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("__ld_rn") === 1, 1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__ld_rn") === 1,
              struct(col("__ld_pos"), col("__ld_line"))))),
            s => s("__ld_line")),
          sep).as("text_clean"))
    val out = docs.filter(id.isNotNull).select(id.as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
    // hotKeySafe is the only path that persisted the line explode —
    // materialize the rebuilt (doc-sized) output and release it (r21
    // lifecycle rule); the window form stays fully lazy, unchanged
    linesHeld.fold(out)(materialized(out, _))
  }

  /** BOILERPLATE line removal by document frequency — the RefinedWeb rule
    * ("remove lines occurring in more than N documents from the same
    * domain"): a line is boilerplate when it appears in `>= minDocs`
    * DISTINCT documents of its `group` (domain/source), and then EVERY
    * occurrence is removed — including the first. The complementary
    * operator to [[dedupLinesAcrossCorpus]] (which keeps first
    * occurrences of any repeat): nav bars, cookie banners and footers are
    * noise in ALL documents, not content in their earliest one.
    *
    * Returns one row per input doc: `(id, n_lines, n_kept, text_clean)`
    * with the same reassembly contract as [[dedupLinesAcrossCorpus]]
    * (empty string when everything was boilerplate; null-id docs dropped
    * defensively under the same rule).
    *
    * Distributed shape, sized for 100 TB — and structurally LIGHTER than
    * the keep-first window:
    *  1. `posexplode` lines (map-side, line volume ≈ text volume);
    *  2. the document-frequency aggregate: distinct `(group, line, id)`
    *     then count per `(group, line)` — both phases partial-combine
    *     map-side, shuffle = the distinct line-occurrence volume;
    *  3. the flag side is `df >= minDocs` — by DEFINITION the high-df
    *     head of the line distribution, whose DISTINCT vocabulary is
    *     tiny even when its occurrence count is billions (that is what
    *     makes it boilerplate), so it is explicitly `broadcast()` and
    *     the removal is a broadcast LEFT ANTI join: the line volume is
    *     never shuffled on the line text at all. A line hot in a billion
    *     docs costs one hash probe per occurrence — no hot partition
    *     exists anywhere in this operator, unlike the window form's
    *     skew note (no `hotKeySafe` escape hatch needed);
    *  4. one shuffle back to `id` to reassemble, plus the id-spine left
    *     join for fully-boilerplate docs.
    * `minDocs` must be >= 2: at 1 every line is boilerplate and the
    * broadcast-dimension assumption (and the operator's meaning)
    * collapses. */
  /** The boilerplate LINE TABLE behind [[removeBoilerplateLines]] —
    * `(group, line)` pairs whose per-group document frequency is
    * `>= minDocs` — exposed because production applies it twice: the
    * batch removal here, and the streaming ingest scrub
    * ([[graft.streaming.StreamOps.boilerplateScrub]]) that consumes
    * yesterday's table without recounting (the corpus-signature handoff
    * convention). Tiny by definition (the high-df head), so downstream
    * consumers broadcast it. */
  def boilerplateLines(docs: DataFrame, id: Column, text: Column,
      group: Column, minDocs: Long, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2L, s"minDocs must be >= 2, got $minDocs")
    boilerLinesOf(explodedLines(docs, id, text, group, sep), minDocs)
      .select(col("__bp_fgrp").as("group"), col("__bp_fline").as("line"))
  }

  private def explodedLines(docs: DataFrame, id: Column, text: Column,
      group: Column, sep: String): DataFrame =
    docs
      .filter(id.isNotNull)
      .select(id.as("__bp_id"), group.as("__bp_grp"),
        posexplode(filter(split(text, java.util.regex.Pattern.quote(sep)),
          l => l =!= "")))
      .toDF("__bp_id", "__bp_grp", "__bp_pos", "__bp_line")

  private def boilerLinesOf(lines: DataFrame, minDocs: Long): DataFrame =
    lines
      // null-group lines can never be REMOVED anyway (the anti join's
      // equality never matches null), so a null-group row in the
      // dimension would be dead weight here and a crash downstream —
      // map_from_entries in the streaming scrub rejects null keys
      .filter(col("__bp_grp").isNotNull)
      .select(col("__bp_grp"), col("__bp_line"), col("__bp_id"))
      .distinct()
      .groupBy(col("__bp_grp").as("__bp_fgrp"), col("__bp_line").as("__bp_fline"))
      .agg(count(lit(1)).as("__bp_df"))
      .filter(col("__bp_df") >= minDocs)
      .select(col("__bp_fgrp"), col("__bp_fline"))

  def removeBoilerplateLines(docs: DataFrame, id: Column, text: Column,
      group: Column, minDocs: Long, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2L, s"minDocs must be >= 2, got $minDocs")
    // Persisted (r20): the line explode feeds BOTH the df aggregate and
    // the flagging join, and being map-side it has no exchange for
    // reuse to dedupe — the plan executed the split+posexplode twice
    // (plan-counted). One disk-spillable cache replaces the recompute;
    // cold-timing harnesses clear it between reps.
    val linesHeld = hold(explodedLines(docs, id, text, group, sep))
    val lines = linesHeld.df
    val boiler = boilerLinesOf(lines, minDocs)
    // broadcast LEFT join + keep flag rather than an anti join: the
    // kept/total counts and the reassembly then ride ONE line-keyed
    // aggregate over ONE pass of the line table (an anti join plus a
    // separate n_lines aggregate re-derived the explode twice)
    val flagged = lines.join(broadcast(boiler),
      col("__bp_grp") === col("__bp_fgrp") && col("__bp_line") === col("__bp_fline"),
      "left")
      .withColumn("__bp_keep", col("__bp_fline").isNull)
    val rebuilt = flagged
      .groupBy(col("__bp_id").as("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("__bp_keep"), 1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__bp_keep"),
              struct(col("__bp_pos"), col("__bp_line"))))),
            s => s("__bp_line")),
          sep).as("text_clean"))
    // materialize the rebuilt (doc-sized) output, release the exploded
    // line cache (r21 lifecycle rule)
    materialized(
      docs.filter(id.isNotNull).select(id.as("id"))
        .join(rebuilt, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("text_clean"), lit("")).as("text_clean")),
      linesHeld)
  }
}
