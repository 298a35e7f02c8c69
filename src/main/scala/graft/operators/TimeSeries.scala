package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Time-series shaping operators: regular-grid densification (calendar
  * gap fill) and forward fill. The reference plots time axes straight from
  * the data ([U] `data_mappers.py` time mapper); a training/feature
  * pipeline additionally needs the *absent* buckets materialized (a model
  * reading "no events this hour" must see an explicit zero row) and
  * missing measurements carried forward.
  */
object TimeSeries {

  /** Dense time grid: one row per `step` from min to max of `tsExpr` over
    * `src`, inclusive. The bounds aggregate is a full-reduce to one row
    * (partial min/max per partition, tiny exchange), and the grid explodes
    * from that single row — O(grid length) rows out regardless of input
    * size, so the grid side of [[gapFill]] is always bounded. */
  def grid(src: DataFrame, tsExpr: Column, step: String, as: String = "g"): DataFrame = {
    // `step` is interpolated into SQL text — validate it here so a typo (or
    // a quote) fails at the call site with a clear message instead of an
    // opaque parse error (or an injected fragment) deep in analysis
    require(step.matches("""(?i)\d+\s+(SECOND|MINUTE|HOUR|DAY|WEEK|MONTH|YEAR)S?"""),
      s"grid step must look like '<n> SECOND|MINUTE|HOUR|DAY|WEEK|MONTH|YEAR', got: '$step'")
    src.agg(min(tsExpr).as("mn"), max(tsExpr).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"), expr(s"INTERVAL '$step'"))).as(as))
  }

  /** Left-join bucket-aggregated `dataAgg` onto the dense grid, filling
    * the named columns where the data has no bucket. `dataAgg` is grouped
    * by the same bucket expression as the grid, so it is bounded by the
    * grid length — broadcast it and the fill is shuffle-free. */
  def gapFill(gridDf: DataFrame, dataAgg: DataFrame, key: String,
      fills: Map[String, Column]): DataFrame = {
    val unknown = fills.keySet -- dataAgg.columns.toSet - key
    require(unknown.isEmpty,
      s"gapFill fills reference columns not in the data side: ${unknown.mkString(", ")} " +
      s"(have: ${dataAgg.columns.mkString(", ")}) — a typo here would silently leave NULLs")
    val filled = dataAgg.columns.filterNot(_ == key).map { c =>
      fills.get(c).map(d => coalesce(col(c), d)).getOrElse(col(c)).as(c)
    }
    gridDf.join(broadcast(dataAgg), Seq(key), "left")
      .select(col(key) +: filled: _*)
  }

  /** Forward fill: latest preceding non-null value of `value` within the
    * window's partition/ordering (SQL `last_value(x IGNORE NULLS)`). */
  def forwardFill(value: Column, over: WindowSpec): Column =
    last(value, ignoreNulls = true)
      .over(over.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** LINEAR interpolation of missing measurements — [[forwardFill]]'s
    * two-sided sibling (pandas `interpolate(method='time')`): a NULL
    * between two observations takes the time-weighted blend
    * `prev + (next − prev) · (t − t_prev)/(t_next − t_prev)`; a NULL
    * before the first observation backfills from it, after the last
    * forward-fills, and an all-NULL partition stays NULL. Non-null rows
    * pass through untouched. `ts` must be a NUMERIC time axis (epoch
    * seconds — the q60 idiom) so the lerp is plain IEEE arithmetic,
    * identical across engines; equal-timestamp neighbors fall back to
    * the previous value (zero-length denominator guarded, never ±Inf).
    *
    * Shape: four window functions over the SAME partition/order spec —
    * Catalyst evaluates them in one Window operator, so the cost is the
    * one per-key sort any ordered fill already pays; nothing global. */
  def interpolateLinear(value: Column, ts: Column, over: WindowSpec): Column = {
    val before = over.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = over.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val pv = last(value, ignoreNulls = true).over(before)
    val pt = last(when(value.isNotNull, ts), ignoreNulls = true).over(before)
    val nv = first(value, ignoreNulls = true).over(after)
    val nt = first(when(value.isNotNull, ts), ignoreNulls = true).over(after)
    when(value.isNotNull, value)
      .when(pv.isNotNull && nv.isNotNull && nt =!= pt,
        pv + (nv - pv) * ((ts - pt).cast("double") / (nt - pt).cast("double")))
      .when(pv.isNotNull, pv)
      .otherwise(nv)
  }

  /** One-sided (upper) CUSUM drift detector per key — the sequential
    * change-point statistic (Page 1954) a pipeline runs over per-source
    * quality/volume series to catch sustained upward drift a threshold
    * on single points misses: s_t = max(0, s_{t−1} + (x_t − target −
    * slack)), alarm when s_t > h.
    *
    * The recursion LOOKS sequential-only, but has the classic closed
    * form s_t = P_t − min(0, min_{k≤t} P_k) with P the running sum of
    * the shifted deviations — so the whole detector is ONE key-keyed
    * exchange carrying two running-frame windows (prefix sum, then
    * running min of it; same partitioning AND ordering, so Catalyst
    * plans one sort, zero extra shuffles). Running frames evaluate
    * strictly in frame order on both engines, so even the float
    * accumulation order is pinned and the oracle reproduces s_t
    * bit-for-bit before rounding. Ordering must be total for
    * determinism: `ord` should break ts ties (the house (ts, id)
    * discipline). Returns the per-event table
    * (k, ord cols…, x, s, alarm) — callers aggregate summaries or
    * filter alarms; the streaming form
    * ([[graft.streaming.CusumStream]]) folds the identical recursion
    * per retired event and is parity-pinned against this one. */
  def cusum(df: DataFrame, key: Column, ord: Seq[Column], value: Column,
      target: Double, slack: Double, h: Double): DataFrame = {
    require(h > 0, s"alarm threshold h must be positive, got $h")
    val wk = Window.partitionBy(key).orderBy(ord: _*)
    df
      .withColumn("__p",
        sum(value.cast("double") - lit(target) - lit(slack)).over(wk))
      .withColumn("s", col("__p") - least(lit(0.0), min(col("__p")).over(wk)))
      .withColumn("alarm", col("s") > h)
      .drop("__p")
  }

  /** Two-sample KOLMOGOROV–SMIRNOV drift, each group vs the rest — the
    * distribution-level sibling of [[cusum]] (which watches a MEAN drift
    * in sequence order, blind to shape changes) and of the q101/q163
    * divergences (which need a binned/vocab histogram; KS is binning-free
    * on an ordinal value): per group `g`,
    * `D_g = sup_x |F_g(x) − F_rest(x)|` over the empirical CDFs, plus
    * the scaled statistic `ks = D·sqrt(n_g·n_rest/(n_g+n_rest))` that
    * feeds the standard Kolmogorov significance lookup.
    *
    * Exact sup via the value VOCABULARY (the q154 ROC discipline): per
    * distinct value, per-group counts aggregate keyed; the group×value
    * CDF grid is `|groups| · |values|` rows (cross join the two bounded
    * dimensions, left-join the counts) so a group's CDF is evaluated at
    * EVERY jump point of either CDF — miss one and the sup is wrong.
    * Cumulative sums are a group-keyed window over the grid plus one
    * vocabulary-sized global window (the same bounded single-partition
    * window q154 documents); nothing data-sized funnels anywhere. The
    * statistic is exact — rational counts, no quadrature — so the
    * oracle re-derives it to the rounding digit.
    *
    * BOUNDED-VOCABULARY CONTRACT (enforced, ADVICE r17): the grid is
    * `|groups| × |distinct values|` rows, so a continuous
    * high-cardinality value column would silently explode it to
    * O(G·N). `maxValues` caps the vocabulary and FAILS LOUDLY past it
    * (the operator's own loud-degenerate-input discipline), naming
    * [[ksDriftBinned]] — the fixed-grid sibling that is the correct
    * form for continuous values at corpus scale. */
  def ksDriftByGroup(df: DataFrame, group: Column, value: Column,
      maxValues: Int = 100000): DataFrame = {
    require(maxValues >= 2, s"maxValues must be >= 2, got $maxValues")
    val base = df.select(group.as("g"), value.cast("double").as("v"))
      .filter(col("v").isNotNull)
    val counts = base.groupBy("g", "v").agg(count(lit(1)).as("c"))
    // ONE probe job validates both dimensional contracts before the grid
    // is built (review r18: the first draft ran two separate eager
    // probes). Eager by necessity: the guard must fire BEFORE the
    // groups × values cross join can materialize a data-sized grid — an
    // in-plan raise_error could land after the explosion already ran.
    val probe = counts.agg(
      countDistinct(col("g")).as("ng"), countDistinct(col("v")).as("nv")).head()
    // a lone group has no "rest" to drift from: fail loudly at the API
    // boundary instead of an opaque ANSI DIVIDE_BY_ZERO at execution
    require(probe.getLong(0) >= 2,
      "ksDriftByGroup needs at least 2 distinct groups (with non-NULL values) " +
        "— a lone group has no rest-of-corpus to compare against")
    require(probe.getLong(1) <= maxValues,
      s"ksDriftByGroup: value vocabulary (${probe.getLong(1)}) exceeds " +
        s"maxValues=$maxValues — the exact sup grid is groups × distinct-values " +
        "and would be data-sized on a continuous column; use ksDriftBinned " +
        "(quantile-edge grid) at scale, or raise maxValues deliberately for a " +
        "known-bounded vocabulary")
    val groups = counts.select("g").distinct()
    val values = counts.select("v").distinct()
    val ns = base.groupBy("g").agg(count(lit(1)).as("n"))
    val nAll = base.agg(count(lit(1)).as("n_all"))
    val grid = groups.crossJoin(values)
      .join(counts, Seq("g", "v"), "left_outer")
      .na.fill(0L, Seq("c"))
    val wg = Window.partitionBy("g").orderBy("v")
    val wv = Window.orderBy("v")
    val tot = base.groupBy("v").agg(count(lit(1)).as("ct"))
      .withColumn("cum_t", sum("ct").over(wv))
      .select("v", "cum_t")
    grid
      .withColumn("cum_g", sum("c").over(wg))
      .join(tot, "v")
      .join(ns, "g")
      .crossJoin(broadcast(nAll))
      .withColumn("__d_at_v", abs(
        col("cum_g").cast("double") / col("n") -
        (col("cum_t") - col("cum_g")).cast("double") / (col("n_all") - col("n"))))
      .groupBy(col("g"), col("n"), (col("n_all") - col("n")).as("n_rest"))
      .agg(max(col("__d_at_v")).as("d"))
      .withColumn("ks", col("d") * sqrt(
        col("n").cast("double") * col("n_rest") / (col("n") + col("n_rest"))))
      .select("g", "n", "n_rest", "d", "ks")
  }

  /** BINNED two-sample KS — the 100 TB form of [[ksDriftByGroup]] for
    * CONTINUOUS values, where the exact sup's `groups × distinct-values`
    * grid would be data-sized: evaluate both CDFs on a FIXED grid of
    * `bins` global quantile edges (equal-population by construction, the
    * q182/[[psiDrift]] edge discipline — equal-width bins would collapse
    * onto the data's head) instead of at every jump point. The reported
    * `d` is the sup over the edge set, a LOWER bound on the exact D with
    * error ≤ the largest CDF mass inside one bin (≈ 1/bins for the
    * pooled distribution); at bins = 1000 the bound is below any
    * decision threshold drift monitoring uses.
    *
    * Shuffle shape (r20): ONE corpus scan — a (g, v) distinct-value
    * histogram (codegen partial+final hash aggregate, persisted) feeds
    * BOTH the edge pass and the binning. Edges are EXACT by default via
    * [[ExactQuantiles]] (bit-identical to the builtin `percentile`,
    * which cost 3.2–4.6 s at sf0.1 / 29 s at ×30 in its imperative
    * single-buffer form — the r20 optimization), or a fixed-size sketch
    * with `approxEdges = true` (`approx_percentile` over raw rows, the
    * 100 TB default: no distinct-value table at all; edge error shifts
    * each CDF evaluation point slightly, which perturbs the
    * already-binned D by ≤ the mass inside one accuracy quantum —
    * TimeSeriesSpec pins approx ≈ exact on the fixtures). Then bin
    * membership is an in-row fold over the broadcast edge array, one
    * (g, bin)-keyed weighted-count aggregate (plan size O(1) in `bins`
    * — r19, so the 1000-bin default plans as cheaply as 4), and in-row
    * CDF folds over the `groups × bins` grid — BOUNDED by construction,
    * which is exactly what the exact form cannot promise. Counts are
    * exact longs, the statistic a fixed rational dag — order-immune.
    * Returns `(g, n, n_rest, d, ks)`, the exact form's schema. */
  def ksDriftBinned(df: DataFrame, group: Column, value: Column,
      bins: Int = 1000, approxEdges: Boolean = false): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val base = df.select(group.as("g"), value.cast("double").as("v"))
      .filter(col("v").isNotNull)
    // ONE corpus scan (optimization r20; was two, and the builtin
    // `percentile` edge aggregate alone cost 3.2–4.6 s at sf0.1 / 29 s
    // at ×30 — measured, see ExactQuantiles' scaladoc): the (g, v)
    // distinct-value histogram is computed once (partial+final codegen
    // hash aggregate — the only pass over the corpus) and persisted;
    // the quantile-edge pass and the binning aggregate both run over
    // that distinct-value table. Edges are BIT-IDENTICAL to the builtin
    // (`ExactQuantiles` replays Percentile.getPercentile's arithmetic;
    // pinned in ExactQuantilesSpec), and every downstream count is a
    // sum of exact longs, so results are unchanged. The approx branch
    // keeps its mergeable one-pass sketch over raw rows (the 100 TB
    // default needs no distinct-value table at all).
    val gvHeld =
      if (approxEdges) None
      else Some(CacheDiscipline.hold(base.groupBy("g", "v").agg(count(lit(1)).as("__ks_w"))))
    val gv = gvHeld.map(_.df).orNull
    val fracs = (1 until bins).map(k =>
      s"CAST($k AS DOUBLE) / $bins").mkString(", ")
    val edgesHeld = gvHeld.map(h => ExactQuantiles.quantileEdgesHeld(h.df, col("v"),
      col("__ks_w"), (1 until bins).map(_.toDouble / bins), "__ks_e"))
    val edges = edgesHeld.map(_.df).getOrElse(
      base.agg(expr(s"approx_percentile(v, array($fracs), 10000)").as("__ks_e")))
    // The histogram is keyed (g, bin) — NOT `bins` unrolled sum(when)
    // columns, which planned fine at the gated bins<=32 but are the
    // q158 plan-size failure class at the documented 1000-bin default
    // (ADVICE r18): this plan is O(1) in bins, so the default is real.
    // The tot/loud consumer branches stay scan-deduped because every
    // consumer shares the identical (g, bin) exchange (static
    // ReuseExchange with AQE off, runtime stage reuse with AQE on —
    // PINNED by PlanShapeSpec's q185 scan-count gate: exactly ONE
    // parquet scan + a ReusedExchange in the non-AQE plan, so a planner
    // change that loses the reuse fails the build instead of silently
    // multiplying corpus scans).
    // Everything downstream runs on the groups × bins BOUNDED table:
    // the dense per-group array assembles from a collect_list map over
    // <= bins rows per group, per-bin totals from a posexplode of the
    // |groups| arrays, cumulative CDFs and the sup fold in-row.
    // r21 (VERDICT r20 item 7): bin membership by in-row BINARY SEARCH
    // over the sorted edge array — O(log bins) per row instead of the
    // O(bins) linear fold, ~equal at the gated 32 bins and the real map
    // cost at the documented 1000-bin default. Quantile edges are
    // non-decreasing by construction (exact and sketch), and the count
    // of edges strictly below v equals the largest index with
    // edge < v — identical longs, pinned against the linear fold in
    // TimeSeriesSpec on random sorted arrays with duplicates.
    val binSrc =
      if (approxEdges) base.crossJoin(broadcast(edges))
        .select(col("g"),
          binOfSortedCol(col("v"), col("__ks_e"), bins - 1).as("__ks_bin"),
          lit(1L).as("__ks_w"))
      else gv.crossJoin(broadcast(edges))
        .select(col("g"),
          binOfSortedCol(col("v"), col("__ks_e"), bins - 1).as("__ks_bin"),
          col("__ks_w"))
    val perGroup = binSrc
      .groupBy("g", "__ks_bin")
      .agg(sum(col("__ks_w")).as("__ks_c"))
      .groupBy("g")
      .agg(map_from_entries(collect_list(
        struct(col("__ks_bin"), col("__ks_c")))).as("__ks_m"))
      .select(col("g"), transform(sequence(lit(0L), lit((bins - 1).toLong)),
        b => coalesce(element_at(col("__ks_m"), b), lit(0L))).as("__ks_arr"))
    // bounded 1-row totals: per-bin sums across the |groups|-row table
    // (each group's dense array contributes one row per bin position,
    // so the per-position row count IS the group count)
    val tot = perGroup
      .select(posexplode(col("__ks_arr")).as(Seq("__ks_p", "__ks_c")))
      .groupBy("__ks_p")
      .agg(sum(col("__ks_c")).as("__ks_t"), count(lit(1)).as("__ks_gc"))
      .agg(map_from_entries(collect_list(
          struct(col("__ks_p"), col("__ks_t")))).as("__ks_tm"),
        max(col("__ks_gc")).as("__ks_ngroups"))
      .select(transform(sequence(lit(0), lit(bins - 1)),
        b => element_at(col("__ks_tm"), b)).as("__ks_tot"),
        col("__ks_ngroups"))
    val nG = aggregate(col("__ks_arr"), lit(0L), (a, x) => a + x)
    val nAll = aggregate(col("__ks_tot"), lit(0L), (a, x) => a + x)
    val acc0 = struct(lit(0L).as("cg"), lit(0L).as("ct"), lit(0.0).as("d"))
    val folded = aggregate(sequence(lit(1), lit(bins)), acc0, (acc, i) => {
      val cg = acc.getField("cg") + element_at(col("__ks_arr"), i)
      val ct = acc.getField("ct") + element_at(col("__ks_tot"), i)
      val dAt = abs(cg.cast("double") / col("n") -
        (ct - cg).cast("double") / col("n_rest"))
      struct(cg.as("cg"), ct.as("ct"), greatest(acc.getField("d"), dAt).as("d"))
    })
    val guardMsg =
      "ksDriftBinned needs at least 2 distinct groups (with non-NULL values) " +
        "— a lone group has no rest-of-corpus to compare against"
    // Degenerate input must fail LOUDLY, two layers (review r19: either
    // alone has a blind spot):
    //  - IN-ROW on the kept `n` column of every body row — so even
    //    PARTIAL consumption (first()/limit over a lone-group result,
    //    which may never evaluate a separate union branch) raises on
    //    the first row touched, never returns the NaN row its 0/0
    //    division would produce;
    //  - a guard-only branch on the always-one-row totals aggregate,
    //    unioned in — the ZERO-group case (empty / all-NULL input),
    //    where perGroup has no rows and any row-borne guard would never
    //    evaluate (the silent empty frame ADVICE r18 flagged, diverging
    //    from the exact sibling's eager probe).
    // ngroups is NULL over zero groups (max over no rows) — coalesce,
    // the sum-over-zero-rows-is-NULL trap.
    val ngroupsOk = coalesce(col("__ks_ngroups"), lit(0L)) >= 2
    val body = perGroup
      .crossJoin(broadcast(tot))
      .withColumn("n", when(!ngroupsOk,
          raise_error(lit(guardMsg)).cast("long")).otherwise(nG))
      .withColumn("n_rest", nAll - col("n"))
      .withColumn("d", folded.getField("d"))
      .withColumn("ks", col("d") * sqrt(
        col("n").cast("double") * col("n_rest") / (col("n") + col("n_rest"))))
      .select("g", "n", "n_rest", "d", "ks")
    val loud = tot
      .filter(!ngroupsOk)
      .select(raise_error(lit(guardMsg))
          .cast(base.schema("g").dataType).as("g"),
        lit(0L).as("n"), lit(0L).as("n_rest"),
        lit(0.0).as("d"), lit(0.0).as("ks"))
    val out = body.unionAll(loud)
    // exact branch: materialize the |groups|-row result, then release
    // the distinct-value histogram cache AND the edge table's persist
    // handle (r21 lifecycle rule — CacheDiscipline; the approx branch
    // caches nothing). The guard semantics are unchanged: the eager
    // count executes the same raise_error dag a consumer would.
    if (approxEdges) out
    else CacheDiscipline.materialized(out, gvHeld.get, edgesHeld.get)
  }

  /** Shared KS-vs-reference dag: given a row's per-bin current counts
    * (`binArr`, array<long> of length bins) and the reference histogram
    * literals, the `(n_cur, d)` expressions — cumulative CDFs and the
    * sup folded IN-ROW over the bin indices (bounded, deterministic; all
    * rationals of exact longs). ONE definition consumed by both the
    * batch [[ksBinnedVsReference]] and the streaming
    * [[graft.streaming.StreamOps.ksWindowed]], so stream and batch
    * cannot drift (the heavyHittersWindowed delegation discipline). */
  private[graft] def ksVsRefDag(binArr: Column,
      refBinCounts: Seq[Long]): (Column, Column) = {
    val bins = refBinCounts.length
    val nRef = refBinCounts.sum
    val refArr = typedlit(refBinCounts)
    val nCur = aggregate(binArr, lit(0L), (a, x) => a + x)
    val acc0 = struct(lit(0L).as("cc"), lit(0L).as("cr"), lit(0.0).as("d"))
    val folded = aggregate(sequence(lit(1), lit(bins)), acc0, (acc, i) => {
      val cc = acc.getField("cc") + element_at(binArr, i)
      val cr = acc.getField("cr") + element_at(refArr, i)
      val dAt = abs(cc.cast("double") / nCur -
        cr.cast("double") / lit(nRef.toDouble))
      struct(cc.as("cc"), cr.as("cr"),
        greatest(acc.getField("d"), dAt).as("d"))
    })
    (nCur, folded.getField("d"))
  }

  /** Per-bin conditional counters for a value column against reference
    * edges — the shared binning front of the vs-reference drift pair. */
  private[graft] def binCounters(bins: Int): Seq[Column] =
    (0 until bins).map(b =>
      sum(when(col("__ks_bin") === b, 1L).otherwise(0L)).as(s"__ks_n$b"))

  private[graft] def binOf(value: Column, refEdges: Seq[Double]): Column =
    aggregate(typedlit(refEdges), lit(0L),
      (acc, e) => acc + when(value.cast("double") > e, 1L).otherwise(0L))

  /** [[binOf]] against a SORTED (non-decreasing) edge-array COLUMN —
    * in-row BINARY SEARCH past the measured ~115-edge crossover (the
    * in-body note), the linear fold below it: O(min(n, 16·log n)) per
    * row. Returns the count of edges strictly below the value,
    * which over a sorted array equals the largest 1-based index i with
    * `edges[i] < v` (duplicates included: everything before i is
    * <= edges[i] < v) — bit-identical longs to [[binOf]], pinned in
    * TimeSeriesSpec on random sorted arrays with ties, edge-equal
    * values and NaN (Spark's NaN-greatest comparison makes both forms
    * count every edge). The probe index is clamped into [1, n] so the
    * converged (lo = hi) iterations stay ANSI-safe; their branches are
    * no-ops by the lo < hi guard. */
  private[graft] def binOfSortedCol(value: Column, edges: Column,
      nEdges: Int): Column = {
    require(nEdges >= 1, s"need >= 1 edge, got $nEdges")
    val v = value.cast("double")
    // MEASURED crossover (OptLab `binsab`, interleaved, 600 k rows):
    // the binary step (struct rebuild + clamped element_at) costs ~16×
    // a linear-fold step, so the search only pays past ~115 edges —
    // linear 0.72 s vs search 1.74 s at 32 bins, linear 20.0 s vs
    // search 3.3 s at the 1000-bin default. Below the cutover keep the
    // linear fold (identical longs either way).
    if (nEdges < 128)
      return aggregate(edges, lit(0L),
        (acc, e) => acc + when(v > e, 1L).otherwise(0L))
    // ceil(log2(nEdges + 1)) halvings shrink the [0, nEdges] range to 1
    val steps = 32 - Integer.numberOfLeadingZeros(nEdges)
    aggregate(sequence(lit(1), lit(steps)),
      struct(lit(0L).as("lo"), lit(nEdges.toLong).as("hi")),
      (acc, _) => {
        val lo = acc.getField("lo")
        val hi = acc.getField("hi")
        // values are tiny non-negatives: double division + long cast
        // truncates toward zero = floor((lo + hi + 1) / 2)
        val mid = ((lo + hi + lit(1L)) / lit(2L)).cast("long")
        val probe = greatest(least(mid, lit(nEdges.toLong)), lit(1L))
        val below = v > element_at(edges, probe.cast("int"))
        struct(
          when(lo < hi && below, mid).otherwise(lo).as("lo"),
          when(lo < hi && !below, mid - lit(1L)).otherwise(hi).as("hi"))
      }).getField("lo")
  }

  /** TWO-SAMPLE KS AGAINST A PERSISTED REFERENCE — the vs-artifact form
    * of [[ksDriftBinned]] (which compares groups WITHIN one frame):
    * "has this slice drifted from the reference corpus?", the question
    * the streaming monitor asks per window and a batch job asks per
    * ingest batch. Input is [[psiReference]]'s artifact (edges + ref
    * histogram), so one nightly reference pass serves both PSI and KS.
    * Returns ONE row `(n_cur, n_ref, d, ks)`; `d` is the CDF sup over
    * the edge grid (a lower bound on the exact D, error ≤ the largest
    * in-bin mass ≈ 1/bins). Map-only binning against edge literals +
    * one fixed-state aggregate; the sup folds in-row — nothing
    * data-sized anywhere. */
  def ksBinnedVsReference(cur: DataFrame, value: Column,
      refEdges: Seq[Double], refBinCounts: Seq[Long]): DataFrame = {
    val bins = refBinCounts.length
    require(bins >= 2, s"need >= 2 reference bins, got $bins")
    require(refEdges.length == bins - 1,
      s"edge/bin mismatch: ${refEdges.length} edges for $bins bins (want bins - 1)")
    require(refBinCounts.sum > 0, "ksBinnedVsReference: empty reference histogram")
    val st = cur.filter(value.isNotNull)
      .select(binOf(value, refEdges).as("__ks_bin"))
      .agg(binCounters(bins).head, binCounters(bins).tail: _*)
    val binArr = array((0 until bins).map(b => col(s"__ks_n$b")): _*)
    val (nCur0, d) = ksVsRefDag(binArr, refBinCounts)
    // over an EMPTY/all-NULL slice the global sum(when) counters are
    // NULL (Spark sum over zero rows), so nCur is NULL — and a bare
    // `nCur === 0` guard is NULL too and never fires (ADVICE r19):
    // coalesce first so the vanished-population case is the loud one
    val nCur = coalesce(nCur0, lit(0L))
    val nRef = refBinCounts.sum
    // an empty/all-NULL current slice must FAIL LOUDLY in-plan (the
    // psiDrift vanished-population discipline), never emit the NaN/NULL
    // row 0/0 division would produce — it would hash as a normal result
    st.select(when(nCur === 0, raise_error(lit(
          "ksBinnedVsReference: the current slice has no non-NULL values — " +
            "a vanished population is an incident, not zero drift")))
        .otherwise(nCur).as("n_cur"),
        lit(nRef).as("n_ref"), d.as("d"))
      .withColumn("ks", col("d") * sqrt(
        col("n_cur").cast("double") * col("n_ref") / (col("n_cur") + col("n_ref"))))
  }

  /** POPULATION STABILITY INDEX — the industry-standard binned drift
    * number (credit-risk monitoring's PSI, the metric model-governance
    * dashboards actually alarm on; rule of thumb: < 0.1 stable, > 0.25
    * investigate): bin edges are the REFERENCE slice's quantiles (equal
    * -population by construction, so every bin carries signal — the fix
    * for equal-WIDTH bins collapsing onto the data's head), both slices
    * histogram against those fixed edges, and each bin contributes
    * `(p_cur − p_ref) · ln(p_cur / p_ref)`.
    *
    * Cross-engine determinism: the edges come from the exact
    * interpolated percentile (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the q45/q137 identity) with `k/bins` computed as
    * the same IEEE double; bin membership is a count of strictly-
    * exceeded edges (an in-row fold over the broadcast edge array);
    * and the fractions are add-one-smoothed RATIONALS of exact counts
    * (`(c + 1)/(n + bins)` — empty bins stay finite, the standard
    * Laplace guard), so both engines divide the same integers. The
    * reference scans twice (edge percentiles + its histogram), the
    * current slice once; the slice totals come from summing the
    * bins-row spine (bin membership is total by construction, so mass
    * is conserved — no third scan). Both slices must be non-empty: an
    * empty current would smooth every bin to the SAME near-zero
    * fraction and report "no drift" for a vanished population, and an
    * empty reference has no quantiles — both fail loudly instead (the
    * [[ksDriftByGroup]] degenerate-input discipline). Returns one row
    * per bin: `(bin, n_ref, n_cur, ref_frac, cur_frac, term)`, terms
    * unrounded; `PSI = Σ term`. */
  /** The PSI REFERENCE ARTIFACT — [[psiDrift]]'s reference leg
    * materialized once for reuse (the streaming form's input, and the
    * thing a nightly job persists so every later comparison skips the
    * reference scans): the `bins − 1` quantile edges and the reference
    * histogram against them, computed with exactly the expressions
    * [[psiDrift]] uses internally, so a PSI built from this artifact is
    * value-identical to the batch call. Two reference scans (edges +
    * histogram), `bins`-sized driver traffic — the k-row-centroid
    * discipline. */
  def psiReference(ref: DataFrame, value: Column,
      bins: Int = 10): (Seq[Double], Seq[Long]) = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val refV = ref.select(value.cast("double").as("v")).filter(col("v").isNotNull)
    require(refV.limit(1).count() == 1,
      "psiReference: the reference slice has no non-NULL values — no quantile edges exist")
    val fracs = (1 until bins).map(k =>
      s"CAST($k AS DOUBLE) / $bins").mkString(", ")
    val edges = refV.agg(expr(s"percentile(v, array($fracs))"))
      .head().getSeq[Double](0)
    val counts = refV
      .select(aggregate(typedlit(edges), lit(0L),
        (acc, e) => acc + when(col("v") > e, 1L).otherwise(0L)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (edges, (0 until bins).map(b => counts.getOrElse(b.toLong, 0L)))
  }

  def psiDrift(ref: DataFrame, cur: DataFrame, value: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val spark = ref.sparkSession
    val fracs = (1 until bins).map(k =>
      s"CAST($k AS DOUBLE) / $bins").mkString(", ")
    val refV = ref.select(value.cast("double").as("v")).filter(col("v").isNotNull)
    val curV = cur.select(value.cast("double").as("v")).filter(col("v").isNotNull)
    require(refV.limit(1).count() == 1,
      "psiDrift: the reference slice has no non-NULL values — no quantile edges exist")
    require(curV.limit(1).count() == 1,
      "psiDrift: the current slice has no non-NULL values — a vanished population " +
        "is an incident, not zero drift")
    val edges = refV.agg(
      expr(s"percentile(v, array($fracs))").as("__psi_e"))
    def binned(slice: DataFrame, n: String): DataFrame =
      slice.crossJoin(broadcast(edges))
        .select(aggregate(col("__psi_e"), lit(0L),
          (acc, e) => acc + when(col("v") > e, 1L).otherwise(0L)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(n))
    val spine = spark.range(bins.toLong).select(col("id").as("bin"))
    // slice totals = sums over the bins-row spine (bin membership is
    // total: 0 <= bin < bins always), via an unbounded window on the
    // tiny joined table — no extra corpus scan
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    spine
      .join(binned(refV, "n_ref"), Seq("bin"), "left_outer")
      .join(binned(curV, "n_cur"), Seq("bin"), "left_outer")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .withColumn("__psi_nr", sum("n_ref").over(wAll))
      .withColumn("__psi_nc", sum("n_cur").over(wAll))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        ((col("n_ref") + 1).cast("double") / (col("__psi_nr") + bins)).as("ref_frac"),
        ((col("n_cur") + 1).cast("double") / (col("__psi_nc") + bins)).as("cur_frac"))
      .withColumn("term",
        (col("cur_frac") - col("ref_frac")) * log(col("cur_frac") / col("ref_frac")))
  }
}
