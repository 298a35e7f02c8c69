package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Approximate variants for the 100 TB path (SURVEY.md §7 "hard parts" #6):
  * the exact operators (Q14 distinct counts, Q09 ranges, eq_hist) are the
  * correctness gates; these are the drop-in replacements when a full
  * shuffle of distinct values or a global sort is no longer affordable.
  *
  *  - `approx_count_distinct` (HyperLogLog++): no distinct shuffle at all —
  *    partial sketches merge associatively, so the exchange carries one
  *    sketch per partition instead of every distinct value;
  *  - `percentile_approx` (KLL-style sketch): quantile ranges and
  *    histogram-equalization breakpoints without a global sort.
  */
object ApproxOps {

  /** HLL distinct counts, aliased like the exact aggregate they replace.
    * Multi-column (pair) distincts are expressed as a struct column:
    * `"dpair" -> struct(col("a"), col("b"))` (Q14's dpair analogue). */
  def approxDistinct(df: DataFrame, rsd: Double, cols: (String, Column)*): DataFrame = {
    require(cols.nonEmpty, "approxDistinct needs at least one (alias, column) pair")
    val aggs = cols.map { case (name, c) => approx_count_distinct(c, rsd).as(name) }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group HLL distinct count — [[approxDistinct]] with group keys
    * (the shape [[graft.streaming.StreamOps.distinctCountWindowed]]
    * delegates to with the window as leading key). HLL++ register
    * merges are element-wise max — associative, commutative and
    * idempotent — so the estimate is identical under ANY partitioning
    * or micro-batch arrival order: the streaming parity pin is exact
    * equality, not a tolerance band. */
  def groupApproxDistinct(df: DataFrame, item: Column, rsd: Double,
      keys: Column*): DataFrame = {
    require(keys.nonEmpty, "groupApproxDistinct needs at least one group key")
    df.groupBy(keys: _*).agg(approx_count_distinct(item, rsd).as("n_distinct"))
  }

  /** Per-group percentile summary — THE operator API for quantiles. The
    * DEFAULT is the `percentile_approx` sketch (rank error ≤ n/`accuracy`,
    * deterministic): its partials merge associatively like any other
    * aggregate, so no group ever buffers its raw values — the only shape
    * that survives 100 TB, where a single group can exceed executor
    * memory. `exact = true` opts into interpolated `percentile`, which
    * holds each group's full value list in ObjectHashAggregate state:
    * reserve it for hash-gated contracts over groups known to be small
    * (CoverageQueries.q45 — the gate query — is the one such caller).
    *
    * One output column per requested percentile, named `p25`/`p50`/
    * `p99_9`-style; `extras` appends further (pre-aliased) aggregates
    * computed in the same pass. */
  def groupPercentiles(df: DataFrame, groupCols: Seq[String], value: Column,
      ps: Seq[Double], extras: Seq[Column] = Nil, exact: Boolean = false,
      accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty, "groupPercentiles needs at least one percentile")
    require(ps.forall(p => p >= 0.0 && p <= 1.0), s"percentiles must be in [0,1]: $ps")
    val pArr = array(ps.map(lit(_)): _*)
    val agg =
      if (exact) call_function("percentile", value, pArr)
      else percentile_approx(value, pArr, lit(accuracy))
    val agged =
      if (groupCols.isEmpty) df.agg(agg.as("_ps"), extras: _*)
      else df.groupBy(groupCols.map(col): _*).agg(agg.as("_ps"), extras: _*)
    ps.zipWithIndex.foldLeft(agged) { case (d, (p, i)) =>
      d.withColumn(pName(p), element_at(col("_ps"), i + 1))
    }.drop("_ps")
  }

  /** `0.25` → `p25`, `0.999` → `p99_9` — stable, SQL-safe column names.
    * Built from the DECIMAL string, not the IEEE product: `0.07 * 100`
    * is 7.000000000000001 in binary and would name the column
    * `p7_000000000000001`. */
  private def pName(p: Double): String =
    "p" + (BigDecimal(p.toString) * 100).underlying.stripTrailingZeros.toPlainString
      .replace(".", "_").replace("-", "m")

  /** K-MINIMUM-VALUES (bottom-k) mergeable distinct sketch — the
    * DETERMINISTIC sibling of [[approxDistinct]]'s HLL for the
    * incremental-ingest story: per group, keep the `k` smallest md5
    * hashes of the distinct items. Unlike HLL registers, the sketch is a
    * plain (grp, h) table — persistable as parquet between ingest days —
    * and merging is closed-form: the bottom-k of a UNION of bottom-k
    * sketches equals the bottom-k of the union of the raw sets
    * (min-k is a semilattice), so day-over-day novelty needs only
    * yesterday's k-row sketch, never a re-aggregation of the corpus. The
    * same identity makes the sketch ORACLE-EXACT: any engine computing
    * bottom-k md5 from raw data reproduces it bitwise (md5 hex is
    * fixed-width lowercase, so string order is numeric order). Estimate
    * error is the textbook ~1/sqrt(k−2) relative.
    *
    * Shuffle shape: `distinct` on (grp, hash) is the only corpus-sized
    * exchange (map-side partial combine applies); the row_number window
    * then runs on the already-hash-partitioned groups — at 100 TB the
    * sketch table is k rows per group, and merges touch sketches only. */
  def kmvSketch(items: DataFrame, group: Column, item: Column, k: Int): DataFrame = {
    require(k >= 2, s"kmv k must be >= 2, got $k")
    kmvRerank(items.select(group.as("grp"), md5(item).as("h")), k)
  }

  /** Merge KMV sketch rows (grp, h) — e.g. after remapping `grp` to a
    * coarser key or unioning several days' sketches — by re-taking the
    * bottom-k per group. Input rows need not be distinct. */
  def kmvMerge(sketchRows: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"kmv k must be >= 2, got $k")
    kmvRerank(sketchRows.select(col("grp"), col("h")), k)
  }

  private def kmvRerank(rows: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("h")
    rows.distinct()
      .withColumn("__kmv_rn", row_number().over(w))
      .filter(col("__kmv_rn") <= k)
      .select(col("grp"), col("h"))
  }

  /** Distinct-count estimate from a bottom-k sketch's aggregates: with a
    * full sketch the k-th smallest hash (= `max(h)` over the k rows) maps
    * to the unit interval via its first 8 hex digits and the estimator is
    * the classic (k−1)/u; a sketch still holding fewer than k hashes IS
    * the exact distinct set, so the estimate is exact. Both branches are
    * plain IEEE double arithmetic any engine reproduces bitwise. */
  def kmvEstimate(nSketch: Column, kthHash: Column, k: Int): Column =
    when(nSketch < k, nSketch.cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (conv(substring(kthHash, 1, 8), 16, 10).cast("long") / lit(4294967296.0)))

  /** Approximate eq_hist: shade = interpolated rank of a cell's count among
    * `breaks` quantile breakpoints of the count distribution, computed from
    * a sketch rather than a global cume_dist sort. For canvas-sized rasters
    * the exact `Raster.shadeEqHist` is fine; this is for giant (or
    * per-category stacked) rasters.
    *
    * The raster is persisted for the duration of the two passes (sketch +
    * shade) so the upstream lineage — potentially a full input scan — runs
    * once; callers may `unpersist()` the input afterwards. */
  def shadeEqHistApprox(raster: DataFrame, countCol: Column, breaks: Int = 64): DataFrame = {
    raster.persist(StorageLevel.MEMORY_AND_DISK)
    val qs = raster.select(
      percentile_approx(countCol, array((1 to breaks).map(i => lit(i.toDouble / breaks)): _*),
        lit(10000)).as("__graft_qs"))
    raster.crossJoin(broadcast(qs))
      .withColumn("shade",
        (aggregate(col("__graft_qs"), lit(0), (acc, q) => acc + when(countCol >= q, 1).otherwise(0))
          / lit(breaks.toDouble)))
      .drop("__graft_qs")
  }

  /** Misra–Gries heavy hitters over a token column
    * ([[graft.functions.HeavyHittersAggregator]]) — the k-bounded,
    * mergeable sibling of the exact top-n (q26): exact counting shuffles
    * one row per DISTINCT token (vocabulary-sized — unbounded for URLs /
    * hostnames / identifiers), while this shuffles at most `cap` counters
    * per partition, constant in the data. Guarantee: every token with
    * frequency > N/(cap+1) appears, estimates err low by at most
    * N/(cap+1); with `cap` ≥ the distinct-token count the answer is
    * EXACT (q124 sizes it so, keeping the oracle gate byte-exact).
    *
    * Returns `(grp…, token, est)` rows. Null tokens are dropped before
    * aggregation (a null key is a data bug upstream, not a frequency).
    * With `groupCols` the sketch runs per group — per-source vocabulary
    * drift reports — each group's state independently cap-bounded. */
  def heavyHitters(tokens: DataFrame, token: Column, cap: Int,
      groupCols: Column*): DataFrame = {
    val agg = udaf(new graft.functions.HeavyHittersAggregator(cap),
      org.apache.spark.sql.Encoders.STRING)
    val in = tokens.filter(token.isNotNull)
    val sketch =
      if (groupCols.isEmpty) in.agg(agg(token).as("__hh"))
      else in.groupBy(groupCols: _*).agg(agg(token).as("__hh"))
    sketch.select((sketch.columns.dropRight(1).map(col) :+
      explode(col("__hh")).as(Seq("token", "est"))): _*)
  }

  /** COUNT-MIN sketch rows ([[graft.functions.CountMinAggregator]]) —
    * `(grp…, sketch)` with a fixed `depth·width` counter array per
    * group: the point-query sketch that answers "how often does token t
    * occur" for ANY t without storing the vocabulary. Persist the rows
    * as parquet and [[cmsMerge]] folds days together elementwise (the
    * KMV/q111 day-over-day discipline). Null tokens dropped as in
    * [[heavyHitters]]. */
  def countMinSketch(tokens: DataFrame, token: Column,
      depth: Int, width: Int, groupCols: Column*): DataFrame = {
    val agg = udaf(new graft.functions.CountMinAggregator(depth, width),
      org.apache.spark.sql.Encoders.STRING)
    val in = tokens.filter(token.isNotNull)
    if (groupCols.isEmpty) in.agg(agg(token).as("sketch"))
    else in.groupBy(groupCols: _*).agg(agg(token).as("sketch"))
  }

  /** Point estimates for a LITERAL probe list against sketch rows:
    * `est(t) = min over rows d of sketch[d·width + hash_d(t) mod width]`
    * — the probe cells are derived driver-side from the same pure hash
    * the aggregator uses, so each estimate is a bounded
    * `least(element_at…)` projection, exploded from a |probes|-struct
    * array. Returns `(grp…, token, est)`, [[heavyHitters]]' shape. */
  def cmsPointEstimates(sketches: DataFrame, probes: Seq[String],
      depth: Int, width: Int): DataFrame = {
    require(probes.nonEmpty, "cmsPointEstimates needs at least one probe")
    import graft.functions.CountMinAggregator.cell
    val rows = explode(array(probes.map { p =>
      val cells = (0 until depth).map(d =>
        element_at(col("sketch"), d * width + cell(p, d, width) + 1))
      struct(lit(p).as("token"),
        (if (cells.size == 1) cells.head
         else least(cells: _*)).as("est"))
    }: _*))
    sketches.select((sketches.columns.filter(_ != "sketch").map(col) :+
      rows.as("__cms_r")): _*)
      .withColumn("token", col("__cms_r.token"))
      .withColumn("est", col("__cms_r.est"))
      .drop("__cms_r")
  }

  /** Elementwise sketch union — `merge` as a column expression for
    * persisted day sketches: `cms(day1 ∪ day2) = cms(day1) + cms(day2)`
    * exactly (counter addition commutes with concatenation). */
  def cmsMerge(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x + y)
}
