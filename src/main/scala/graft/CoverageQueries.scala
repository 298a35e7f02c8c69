package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Rounding
import graft.operators.{Canvas, Raster}

/** Round-2 coverage queries: operators from SURVEY §2 (and the north-star
  * surface) that round 1 implemented or declared but did not hash-gate
  * against the DuckDB oracle — the sliding window (§2.9 "Q21 variant"),
  * the remaining `--ared` reductions (first/last/std — datashader's
  * `ds.first/ds.last/ds.std` [U]), cube grouping sets, exact percentiles,
  * window frame specs beyond sessionize, pivot shaping, and string edit
  * distance.
  *
  * Conventions as in [[Queries]]: aliases match the oracle SQL exactly,
  * rank/row_number/length-family results cast to long (DuckDB BIGINT),
  * rounding via [[Rounding.portable]], every ORDER BY pins NULLS
  * FIRST/LAST to Spark's defaults.
  */
object CoverageQueries {

  private def sortedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** q43: sliding-window aggregate — Spark's native `window(ts, 1h, 15m)`
    * in batch mode (each event lands in windowDuration/slide = 4 windows;
    * the streaming form is StreamOps.sliding over the same expression).
    * Output is bounded by hours×4×event_types regardless of input size. */
  def q43(t: Tables): DataFrame =
    t.events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), Rounding.portable(sum("value"), 2).as("s"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("s"))
      .transform(sortedSmall(_, col("ws"), col("event_type")))

  /** q44: CUBE grouping sets with grouping_id — the full §2.5 "grouping
    * sets / rollup / cube" row (Q27 gates only rollup). gid disambiguates
    * aggregation-NULLs from (absent here) data-NULLs. */
  def q44(t: Tables): DataFrame =
    t.supplier
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("n_name"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        Rounding.portable(sum("s_acctbal"), 2).as("bal"))
      .select("r_name", "n_name", "gid", "n", "bal")
      .transform(sortedSmall(_,
        col("r_name").asc_nulls_first, col("n_name").asc_nulls_first, col("gid")))

  /** q45: per-group percentiles through the operator API
    * ([[graft.operators.ApproxOps.groupPercentiles]]), whose DEFAULT is
    * the mergeable `percentile_approx` sketch — the 100 TB path. This
    * gate query opts into `exact = true` (interpolated `percentile` ≡
    * DuckDB `quantile_cont`, both linear interpolation on the sorted
    * values) because the hash gate demands bit-exactness and the 3
    * l_returnflag groups are bounded; production callers omit the flag
    * (ApproxOpsSpec pins the sketch's error band against this exact
    * result). */
  def q45(t: Tables): DataFrame =
    graft.operators.ApproxOps.groupPercentiles(
        t.lineitem, Seq("l_returnflag"), col("l_extendedprice"),
        Seq(0.25, 0.5, 0.75), extras = Seq(count(lit(1)).as("n")), exact = true)
      .select(
        col("l_returnflag"),
        Rounding.portable(col("p25"), 4).as("p25"),
        Rounding.portable(col("p50"), 4).as("p50"),
        Rounding.portable(col("p75"), 4).as("p75"),
        col("n"))
      .transform(sortedSmall(_, col("l_returnflag")))

  /** q46: trailing moving average — window frame spec (`ROWS BETWEEN 3
    * PRECEDING AND CURRENT ROW`) beyond Q22's running sum. The event_id
    * filter restricts the OUTPUT only; the frame sees every event, so it
    * must run below the filter (contrast Q16, where the filter partitions
    * align and push below the window). */
  def q46(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    t.events
      .withColumn("ma0", avg("value").over(w))
      .filter(col("event_id") % 100 === 0)
      .select(col("event_id"), col("user_id"),
        Rounding.portable(col("ma0"), 6).as("ma"))
      .transform(sortedSmall(_, col("event_id")))
  }

  /** q47: pivot (long → wide shaping; the per-corr column layout a
    * shadeMS user gets from `--iter-corr` outputs, as one table). */
  def q47(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(Rounding.portable(sum("l_quantity"), 2))
      .transform(sortedSmall(_, col("l_linestatus")))

  /** q48: string-similarity nearest neighbor by Levenshtein distance —
    * deterministic ties (distance, then partner key). Runs through
    * [[graft.operators.Similarity.stringNearestNeighbor]], whose
    * length-band prefilter (adjacent-string upper bound + the
    * `lev >= |len diff|` lower bound) gives the EXACT all-pairs answer
    * while evaluating levenshtein only inside the length band — the
    * corpus-scale shape, proven equal to brute force in SimilaritySpec.
    * The oracle states the brute-force form; the hashes agree because the
    * prefilter is exact. */
  def q48(t: Tables): DataFrame =
    graft.operators.Similarity.stringNearestNeighbor(
        t.part.filter(col("p_partkey") % 40 === 0),
        col("p_partkey"), col("p_name"))
      .select(col("sid").as("pa"), col("nn"), col("d"))
      .transform(sortedSmall(_, col("pa")))

  private val canvas32 = Canvas(32, 32, (0.0, 50.0), (900.0, 105000.0))

  /** q49: raster first/last reductions (`--ared first/last`, datashader
    * `ds.first/ds.last` [U]) — earliest/latest l_extendedprice per cell in
    * (l_shipdate, l_orderkey, l_linenumber) order via min_by/max_by over a
    * struct: exact values, no floating aggregation, one pass. */
  def q49(t: Tables): DataFrame = {
    val ord = struct(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    canvas32.aggPoints(t.lineitem, col("l_quantity"), col("l_extendedprice"), Seq(
        min_by(col("l_extendedprice"), ord).as("fv"),
        max_by(col("l_extendedprice"), ord).as("lv"),
        count(lit(1)).as("c")))
      .transform(sortedSmall(_, col("xb"), col("yb")))
  }

  /** q50: raster std/variance reduction (`--ared std` [U]). Sample
    * std/var, like datashader's ds.std over a cell's values. */
  def q50(t: Tables): DataFrame =
    canvas32.aggPoints(t.lineitem, col("l_quantity"), col("l_extendedprice"), Seq(
        count(lit(1)).as("c"),
        Rounding.portable(stddev_samp(col("l_extendedprice")), 4).as("sd"),
        Rounding.portable(var_samp(col("l_extendedprice")), 0).as("vr")))
      .transform(sortedSmall(_, col("xb"), col("yb")))

  /** q77: dynspread ([[Raster.spread]] — datashader `tf.dynspread` [U] as
    * a fixed-radius square-kernel convolution): each raster cell's count
    * is summed into its 8-neighborhood, clamped to the canvas. The
    * convolution runs over the RASTER (≤ canvas-size rows), never the
    * data — the only data-sized stage is the q06-style binning
    * aggregate that feeds it. */
  def q77(t: Tables): DataFrame =
    Raster.spread(
        canvas32.points(t.lineitem, col("l_quantity"), col("l_extendedprice")),
        width = 32, height = 32, radius = 1)
      .transform(sortedSmall(_, col("xb"), col("yb")))

  /** q150: DENSITY-ADAPTIVE dynspread ([[Raster.dynSpreadDensity]] —
    * datashader `tf.dynspread`'s real criterion, vs q77's fixed
    * radius): a sparse scatter (1/1000th of lineitem on the 32×32
    * canvas) chooses its own spread radius from the nearest-neighbor
    * density table and dilates by it. threshold = 0.9 makes BOTH gate
    * scales exercise the selection arithmetic non-trivially (measured:
    * sf0.01 picks the interior r = 1; sf0.001's fractions never pass
    * 0.9, exercising the no-qualifier → maxRadius branch). The oracle
    * rebuilds the whole chain closed-form — neighborhood explode,
    * min-Chebyshev table, per-radius fractions, argmin radius, spread
    * — with no iteration. */
  def q150(t: Tables): DataFrame =
    Raster.dynSpreadDensity(
        canvas32.points(t.lineitem.filter(col("l_orderkey") % 1000 === 0),
          col("l_quantity"), col("l_extendedprice")),
        width = 32, height = 32, threshold = 0.9, maxRadius = 3)
      .transform(sortedSmall(_, col("xb"), col("yb")))

  /** q51: bivariate statistics + conditional aggregation — correlation,
    * sample covariance, regression slope (the "how does y scale with x"
    * companion to the raster's visual answer) and a FILTER-style
    * conditional count. */
  def q51(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        Rounding.portable(corr(col("l_quantity"), col("l_extendedprice")), 6).as("co"),
        Rounding.portable(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cv"),
        count_if(col("l_discount") > 0.05).as("nd"),
        Rounding.portable(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"))
      .transform(sortedSmall(_, col("l_returnflag")))

  /** q52: ordered list aggregation (collect → sort → join) — deterministic
    * by construction (sorted before joining), unlike raw collect_list
    * whose element order is partition-arrival-dependent. */
  def q52(t: Tables): DataFrame =
    t.nation
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        array_join(array_sort(collect_set(col("n_name"))), ",").as("nations"),
        countDistinct(col("n_name")).as("nn"))
      .transform(sortedSmall(_, col("r_name")))

  /** q53: window navigation functions (lag/lead/first_value/nth_value)
    * over an explicit ROWS frame; raw values pass through exactly (no
    * floating arithmetic). Output restricted after the window like q46. */
  def q53(t: Tables): DataFrame = {
    // lag/lead are offset functions — Spark rejects an explicit frame on
    // them; first/nth_value take the ROWS frame
    val nav = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val framed = nav.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events
      .select(col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(nav).as("prevv"),
        lead(col("value"), 1).over(nav).as("nextv"),
        first(col("value")).over(framed).as("firstv"),
        nth_value(col("value"), 2).over(framed).as("secondv"))
      .filter(col("event_id") % 100 === 0)
      .drop("value")
      .transform(sortedSmall(_, col("event_id")))
  }

  /** q54: date arithmetic over a fact join — order-to-ship latency in
    * days, histogrammed in 30-day buckets (floor division is exercised on
    * negative spans too: the synthetic shipdates precede their order
    * dates). Timestamps are midnight-aligned so Spark's date-based
    * datediff equals DuckDB's boundary-crossing date_diff. */
  def q54(t: Tables): DataFrame = {
    val dd = datediff(col("l_shipdate"), col("o_orderdate"))
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(floor(dd / 30).cast("long").as("mb"))
      .agg(
        count(lit(1)).as("n"),
        min(dd).cast("long").as("mn"),
        max(dd).cast("long").as("mx"))
      .transform(sortedSmall(_, col("mb")))
  }

  /** q55: array higher-order functions applied directly (the Q20/Q25
    * pipelines go through explode/custom expressions; this gates
    * transform/filter/aggregate/array_max as lambdas over the embedding
    * arrays — the no-explode long-form bridge). */
  def q55(t: Tables): DataFrame = {
    val e = col("embedding")
    t.embeddings
      .filter(col("vec_id") % 100 === 0)
      .select(
        col("vec_id"),
        size(filter(e, x => x > 0)).cast("long").as("npos"),
        Rounding.portable(
          aggregate(transform(e, x => x.cast("double") * 2), lit(0.0d), (acc, x) => acc + x),
          5).as("s2"),
        Rounding.portable(array_max(e).cast("double"), 6).as("mx"))
      .transform(sortedSmall(_, col("vec_id")))
  }

  /** q133: Q30's as-of join through the UNION-SORT escape hatch
    * ([[graft.operators.AsOf.lastEventBefore]] — linear in a hot key's
    * event count where join-then-max is quadratic; see the `asof_hotuser`
    * probe in ROUND_NOTES.md, round 12, source `Soak.scala` at 99b069a).
    * Answer identity with the contract shape is the operator's
    * contract, so the gate runs Q30's exact oracle — the q128/q122
    * precedent: two independent Spark plans and one DuckDB derivation
    * meeting at the same rows. */
  def q133(t: Tables): DataFrame = {
    val p = t.events.filter(col("event_type") === "purchase")
    val v = t.events.filter(col("event_type") === "view")
    graft.operators.AsOf.lastEventBefore(
        p, col("user_id"), col("ts"), col("event_id"),
        v, col("user_id"), col("ts"))
      .select(col("id").as("event_id"), col("last_ts").as("last_view"))
      .transform(sortedSmall(_, col("event_id")))
  }

  /** q146: Q11's discretization through the RANGE-RANK escape hatch
    * ([[graft.operators.Discretize.ntileRangeRank]] — a parallel range
    * sort + closed-form bucket split where the contract ntile funnels
    * every row through ONE partition's sort). Answer identity with the
    * window form is the operator's contract, so the gate runs Q11's
    * exact oracle — the q133/q128 precedent: two independent Spark
    * plans and one DuckDB derivation meeting at the same rows. */
  def q146(t: Tables): DataFrame =
    graft.operators.Discretize.ntileRangeRank(
        t.events.filter(col("event_id") % 20 === 0)
          .select(col("event_id"), col("value")),
        16, col("value"), col("event_id"))
      .select(col("event_id"), col("bucket"))
      .transform(sortedSmall(_, col("event_id")))

  val all: Map[String, Tables => DataFrame] = Map(
    "q133_asof_union"      -> q133 _,
    "q146_ntile_rangerank" -> q146 _,
    "q43_sliding_window"   -> q43 _,
    "q44_cube"             -> q44 _,
    "q45_percentiles"      -> q45 _,
    "q46_moving_avg"       -> q46 _,
    "q47_pivot"            -> q47 _,
    "q48_string_nn"        -> q48 _,
    "q49_raster_firstlast" -> q49 _,
    "q50_raster_std"       -> q50 _,
    "q51_bivariate_stats"  -> q51 _,
    "q52_listagg"          -> q52 _,
    "q53_window_nav"       -> q53 _,
    "q54_date_arith"       -> q54 _,
    "q55_array_hof"        -> q55 _,
    "q77_dynspread"        -> q77 _,
    "q150_dynspread_density" -> q150 _,
  )

  val oracles: Map[String, String] = Map(
    // q133: the union-sort as-of form's contract is answer identity
    // with Q30, so it is gated against Q30's exact oracle
    "q133_asof_union" -> """
      SELECT p.event_id, max(v.ts) AS last_view
      FROM events p LEFT JOIN events v
        ON v.user_id = p.user_id AND v.event_type = 'view' AND v.ts < p.ts
      WHERE p.event_type = 'purchase'
      GROUP BY p.event_id ORDER BY p.event_id NULLS FIRST""",

    // q146: the range-rank form's contract is answer identity with Q11's
    // global ntile, so it is gated against Q11's exact oracle
    "q146_ntile_rangerank" -> """
      SELECT event_id, CAST(ntile(16) OVER (ORDER BY value NULLS FIRST, event_id NULLS FIRST) AS BIGINT) AS bucket
      FROM events WHERE event_id % 20 = 0 ORDER BY event_id NULLS FIRST""",

    "q43_sliding_window" -> """
      SELECT ws, event_type, count(*) AS n, round(sum(value), 2) AS s
      FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) - i * INTERVAL '15 minutes' AS ws,
                   event_type, value
            FROM events, unnest(range(0, 4)) AS t(i)) w
      GROUP BY ws, event_type
      ORDER BY ws NULLS FIRST, event_type NULLS FIRST""",

    "q44_cube" -> """
      SELECT r_name, n_name, CAST(grouping(r_name, n_name) AS BIGINT) AS gid,
             count(*) AS n, round(sum(s_acctbal), 2) AS bal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY CUBE(r_name, n_name)
      ORDER BY r_name NULLS FIRST, n_name NULLS FIRST, gid NULLS FIRST""",

    "q45_percentiles" -> """
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
             round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag NULLS FIRST""",

    "q46_moving_avg" -> """
      SELECT event_id, user_id, round(ma0, 6) AS ma FROM (
        SELECT event_id, user_id,
               avg(value) OVER (PARTITION BY user_id
                 ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS ma0
        FROM events) t
      WHERE event_id % 100 = 0 ORDER BY event_id NULLS FIRST""",

    "q47_pivot" -> """
      SELECT l_linestatus,
             round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
             round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
             round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus NULLS FIRST""",

    "q48_string_nn" -> """
      WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey % 40 = 0),
      pairs AS (
        SELECT a.p_partkey AS pa, b.p_partkey AS pb,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS d
        FROM p a JOIN p b ON a.p_partkey <> b.p_partkey)
      SELECT pa, nn, d FROM (
        SELECT pa, pb AS nn, d,
               row_number() OVER (PARTITION BY pa ORDER BY d NULLS FIRST, pb NULLS FIRST) AS rn
        FROM pairs) t
      WHERE rn = 1 ORDER BY pa NULLS FIRST""",

    "q49_raster_firstlast" -> """
      WITH pts AS (
        SELECT least(31, greatest(0, CAST(floor((l_quantity - 0.0)/(50.0 - 0.0)*32) AS INT))) AS xb,
               least(31, greatest(0, CAST(floor((l_extendedprice - 900.0)/(105000.0 - 900.0)*32) AS INT))) AS yb,
               l_extendedprice AS v, l_shipdate, l_orderkey, l_linenumber
        FROM lineitem),
      r AS (
        SELECT xb, yb, v,
               row_number() OVER (PARTITION BY xb, yb
                 ORDER BY l_shipdate NULLS FIRST, l_orderkey NULLS FIRST, l_linenumber NULLS FIRST) AS rf,
               row_number() OVER (PARTITION BY xb, yb
                 ORDER BY l_shipdate DESC NULLS LAST, l_orderkey DESC NULLS LAST, l_linenumber DESC NULLS LAST) AS rl
        FROM pts)
      SELECT xb, yb,
             max(CASE WHEN rf = 1 THEN v END) AS fv,
             max(CASE WHEN rl = 1 THEN v END) AS lv,
             count(*) AS c
      FROM r GROUP BY xb, yb ORDER BY xb, yb""",

    "q50_raster_std" -> """
      SELECT least(31, greatest(0, CAST(floor((l_quantity - 0.0)/(50.0 - 0.0)*32) AS INT))) AS xb,
             least(31, greatest(0, CAST(floor((l_extendedprice - 900.0)/(105000.0 - 900.0)*32) AS INT))) AS yb,
             count(*) AS c,
             round(stddev_samp(l_extendedprice), 4) AS sd,
             round(var_samp(l_extendedprice), 0) AS vr
      FROM lineitem GROUP BY xb, yb ORDER BY xb, yb""",

    // q77: the q06-style 32x32 count raster, then the radius-1 square
    // convolution as a raster x offsets cross join (9 rows each), clamped
    // to the canvas — identical semantics to Raster.spread
    "q77_dynspread" -> """
      WITH r AS (
        SELECT least(31, greatest(0, CAST(floor((l_quantity - 0.0)/(50.0 - 0.0)*32) AS INT))) AS xb,
               least(31, greatest(0, CAST(floor((l_extendedprice - 900.0)/(105000.0 - 900.0)*32) AS INT))) AS yb,
               count(*) AS c
        FROM lineitem GROUP BY xb, yb),
      o AS (SELECT CAST(a.dx AS INT) AS dx, CAST(b.dy AS INT) AS dy
            FROM unnest(range(-1, 2)) AS a(dx), unnest(range(-1, 2)) AS b(dy)),
      s AS (SELECT r.xb + o.dx AS xb, r.yb + o.dy AS yb, r.c FROM r, o)
      SELECT xb, yb, CAST(sum(c) AS BIGINT) AS c FROM s
      WHERE xb >= 0 AND xb < 32 AND yb >= 0 AND yb < 32
      GROUP BY xb, yb ORDER BY xb NULLS FIRST, yb NULLS FIRST""",

    // q150: the adaptive-radius chain closed-form — min-Chebyshev
    // neighbor table, per-radius density fractions, argmin radius
    // (coalesce maxRadius), spread by the chosen r
    "q150_dynspread_density" -> """
      WITH r AS (
        SELECT least(31, greatest(0, CAST(floor((l_quantity - 0.0)/(50.0 - 0.0)*32) AS INT))) AS xb,
               least(31, greatest(0, CAST(floor((l_extendedprice - 900.0)/(105000.0 - 900.0)*32) AS INT))) AS yb,
               count(*) AS c
        FROM lineitem WHERE l_orderkey % 1000 = 0 GROUP BY xb, yb),
      md AS (SELECT a.xb, a.yb, min(greatest(abs(a.xb-b.xb), abs(a.yb-b.yb))) AS mind
             FROM r a JOIN r b ON NOT (a.xb = b.xb AND a.yb = b.yb)
               AND abs(a.xb-b.xb) <= 7 AND abs(a.yb-b.yb) <= 7
             GROUP BY a.xb, a.yb),
      n AS (SELECT count(*) AS n FROM r),
      rr AS (SELECT CAST(x AS INT) AS rad FROM unnest(range(0, 4)) AS t(x)),
      k AS (SELECT rad, count(*)::DOUBLE AS k FROM md JOIN rr ON mind <= 2*rad + 1
            GROUP BY rad),
      chosen AS (SELECT coalesce(min(rad), 3) AS rad FROM rr
                 LEFT JOIN k USING (rad)
                 WHERE coalesce(k.k, 0) / (SELECT n FROM n) > 0.9),
      o AS (SELECT CAST(a.dx AS INT) AS dx, CAST(b.dy AS INT) AS dy
            FROM unnest(range(-3, 4)) AS a(dx), unnest(range(-3, 4)) AS b(dy)),
      s AS (SELECT r.xb + o.dx AS xb, r.yb + o.dy AS yb, r.c
            FROM r, o, chosen
            WHERE greatest(abs(o.dx), abs(o.dy)) <= chosen.rad)
      SELECT xb, yb, CAST(sum(c) AS BIGINT) AS c FROM s
      WHERE xb >= 0 AND xb < 32 AND yb >= 0 AND yb < 32
      GROUP BY xb, yb ORDER BY xb NULLS FIRST, yb NULLS FIRST""",

    "q51_bivariate_stats" -> """
      SELECT l_returnflag,
             round(corr(l_quantity, l_extendedprice), 6) AS co,
             round(covar_samp(l_quantity, l_extendedprice), 4) AS cv,
             CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS nd,
             round(regr_slope(l_extendedprice, l_quantity), 6) AS slope
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag NULLS FIRST""",

    "q52_listagg" -> """
      SELECT r_name, string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations,
             count(DISTINCT n_name) AS nn
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name NULLS FIRST""",

    "q53_window_nav" -> """
      SELECT event_id, user_id, prevv, nextv, firstv, secondv FROM (
        SELECT event_id, user_id,
               lag(value, 1) OVER w AS prevv,
               lead(value, 1) OVER w AS nextv,
               first_value(value) OVER w AS firstv,
               nth_value(value, 2) OVER w AS secondv
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) t
      WHERE event_id % 100 = 0 ORDER BY event_id NULLS FIRST""",

    "q54_date_arith" -> """
      SELECT CAST(floor(datediff('day', o_orderdate, l_shipdate) / 30) AS BIGINT) AS mb,
             count(*) AS n,
             CAST(min(datediff('day', o_orderdate, l_shipdate)) AS BIGINT) AS mn,
             CAST(max(datediff('day', o_orderdate, l_shipdate)) AS BIGINT) AS mx
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY mb ORDER BY mb NULLS FIRST""",

    "q55_array_hof" -> """
      SELECT vec_id,
             CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS npos,
             round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2)), 5) AS s2,
             round(CAST(list_max(embedding) AS DOUBLE), 6) AS mx
      FROM embeddings WHERE vec_id % 100 = 0 ORDER BY vec_id NULLS FIRST""",
  )
}
