package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Axes, Rounding, VectorFunctions => V}
import graft.operators.{Canvas, Raster, Sessionize}

/** The declared query inventory (SURVEY.md §2 / §8) expressed DataFrame-first.
  *
  * Conventions (binding — the driver hash-compares against DuckDB):
  *  - every computed column is aliased identically to the oracle SQL;
  *  - ORDER BY covers all result-determining columns;
  *  - rounding happens inside the query (`round(expr, k)`);
  *  - Spark-int-returning window funcs (rank/ntile) are cast to long to
  *    match DuckDB's BIGINT;
  *  - `-0.0` is normalized via `+ 0.0` on both engines (Q12).
  */
object Queries {

  /** Final presentation sort for small result sets (every declared query's
    * output is ≤ ~100 k rows even at scale — rasters are canvas-bounded,
    * aggregates are group-bounded). A plain `orderBy` plans a range
    * exchange whose RangePartitioner runs a separate sampling job that
    * re-executes the upstream plan (a full second scan for shuffle-free
    * queries like Q01/Q12). A single-partition sort has no sampling job and
    * no range exchange, and is the right physical choice for a known-small
    * result regardless of input scale. `repartition(1)` (not `coalesce(1)`,
    * which would merge the whole upstream stage into one task) keeps the
    * heavy stages parallel and only funnels the final small result. */
  private def sortedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Presentation sort for results that grow O(input): a range sort over
    * the MATERIALIZED result. At toy scale this costs one extra job; at
    * 30x fixture scale the range split alone is already 3x faster than
    * the single-partition sort (measured: q22 16.7s -> 5.7s at 18M input
    * rows), and at 100 TB it is the only viable plan. The rule: bounded
    * outputs (rasters, fixed group sets) -> sortedSmall; O(N) outputs ->
    * sortedLarge.
    *
    * Why materialize-then-sort instead of a bare `orderBy`: the range
    * exchange's sampling job executes the sort's CHILD plan, then the
    * shuffle-write executes it AGAIN — a bare global sort runs its whole
    * upstream twice (scan, shuffles, windows and all). Materializing the
    * result first means the upstream runs once and both the sampler and
    * the sort read the stored rows — the manual form of the materialized
    * query stage AQE inserts in production, kept explicit here so the
    * plan is double-execution-free in any session mode.
    *
    * `localCheckpoint`, NOT `persist`: a persist registers the logical
    * plan with the session CacheManager, and every LATER invocation that
    * builds the same plan silently reads the first invocation's cached
    * result — a benchmark rep would measure a cache scan, not the query
    * (caught by the r17 self-review; the RDD-level checkpoint is
    * per-invocation by construction, so repeated executions each pay
    * their own upstream exactly once). Storage is bounded by the result
    * a presentation sort must shuffle anyway, spilled via the block
    * manager, and freed by the ContextCleaner when the frame goes out of
    * scope; on a multi-executor cluster localCheckpoint trades executor-
    * loss recoverability for speed — acceptable for a terminal
    * presentation sort whose driver would simply rerun the query. */
  private def sortedLarge(df: DataFrame, cols: Column*): DataFrame =
    if (lazySortsOn.value) df.orderBy(cols: _*)
    else Materialize(df).orderBy(cols: _*)

  private val lazySortsOn = new scala.util.DynamicVariable(false)

  /** Plan-inspection mode: queries BUILT inside `body` (on this thread)
    * use a bare range sort for their O(N) presentation sorts, with no
    * eager localCheckpoint. The checkpoint executes the upstream at
    * construction time and truncates the plan to an RDD scan, hiding the
    * upstream operators a plan dump exists to show (ADVICE r17). */
  def lazySorts[T](body: => T): T = lazySortsOn.withValue(true)(body)

  // ── §2.2 projections / scalar expressions ─────────────────────────────

  /** Q01 amp/phase projection (reference axis mappers `amp`/`phase` [U]). */
  def q01(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_orderkey") % 50 === 0)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        Rounding.portable(Axes.amp(col("l_discount"), col("l_tax")), 6).as("amp"),
        Rounding.portable(Axes.phase(col("l_discount") + 0.001, col("l_tax")), 4).as("phase"))
      .transform(sortedLarge(_, col("l_orderkey"), col("l_linenumber")))

  /** Q02 flag-mask filter + aggregate (`--noflags` masking analog [U]).
    * The price sum is the ORDER-EXACT integer-cent form
    * ([[Rounding.sumExact]], r18): prices are exact 2-decimal
    * quantities, so the cent sum is an exact long — merge-order-immune
    * where the float sum's jitter grows with the aggregate magnitude. */
  def q02(t: Tables): DataFrame =
    t.lineitem
      .filter(!(col("l_returnflag") === "R") &&
        col("l_shipdate") >= to_timestamp(lit("1997-01-01")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        Rounding.portable(Rounding.sumExact(col("l_extendedprice"), 2), 2).as("s"))
      .transform(sortedSmall(_, col("l_returnflag")))

  /** Q03 subset selection: IN-list + range (`--field/--scan` style [U]). */
  def q03(t: Tables): DataFrame =
    t.orders
      .filter(col("o_orderstatus").isin("O", "F") &&
        col("o_orderdate").between(
          to_timestamp(lit("1996-01-01")), to_timestamp(lit("1998-12-31"))))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .transform(sortedSmall(_, col("o_orderpriority")))

  /** Q04 dimension join chain (MSInfo subtable lookups [U]) — both dims are
    * tiny, so broadcast explicitly: zero shuffles before the aggregate. */
  def q04(t: Tables): DataFrame =
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("custs"), Rounding.portable(sum("c_acctbal"), 2).as("bal"))
      .transform(sortedSmall(_, col("r_name"), col("n_name")))

  /** Q05 per-group statistics (TPC-H Q1 shape; per-field/scan stats [U]). */
  def q05(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        // ORDER-EXACT moments (r18, the q170 discipline for currency):
        // quantities/prices are exact 2-decimal; the charge term
        // price·(1−disc)·(1+tax) is exactly 6-decimal (2+2+2), so each
        // snaps losslessly to its integer grid and the sums are exact
        // longs — immune to partial-aggregate merge order
        Rounding.portable(Rounding.sumExact(col("l_quantity"), 2), 2).as("sq"),
        Rounding.portable(Rounding.avgExact(col("l_extendedprice"), 2), 4).as("ap"),
        Rounding.portable(Rounding.sumExact(
          col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6), 2)
          .as("charge"))
      .transform(sortedSmall(_, col("l_returnflag"), col("l_linestatus")))

  // ── §2.5 raster aggregations (the datashader core) ────────────────────

  private val canvas64 = Canvas(64, 64, (0.0, 50.0), (900.0, 105000.0))
  private val canvas32 = Canvas(32, 32, (0.0, 50.0), (900.0, 105000.0))

  /** Q06 2-D count raster (`Canvas.points` + `ds.count()` [U]). */
  def q06(t: Tables): DataFrame =
    canvas64.points(t.lineitem, col("l_quantity"), col("l_extendedprice"))
      .transform(sortedSmall(_, col("xb"), col("yb")))

  /** Q07 raster with mean/max reduction (`--ared mean`, `--aaxis` [U]). */
  def q07(t: Tables): DataFrame =
    Canvas(32, 32, (0.0, 0.1), (0.0, 0.08))
      .aggPoints(t.lineitem, col("l_discount"), col("l_tax"), Seq(
        count(lit(1)).as("c"),
        // order-exact mean (r18): Σcents/(n·100), exact longs; max is
        // order-immune already
        Rounding.portable(Rounding.avgExact(col("l_extendedprice"), 2), 4).as("m"),
        Rounding.portable(max("l_extendedprice"), 2).as("mx")))
      .transform(sortedSmall(_, col("xb"), col("yb")))

  /** Q08 categorical raster (`ds.count_cat`, `--colour-by` [U]). */
  def q08(t: Tables): DataFrame =
    canvas32.pointsByCat(t.lineitem, col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"))
      .transform(sortedSmall(_, col("xb"), col("yb"), col("cat")))

  /** Q09 axis range autocompute (min/max cache before plotting [U]). */
  def q09(t: Tables): DataFrame =
    t.lineitem.agg(
      Rounding.portable(min("l_extendedprice"), 2).as("mn_p"),
      Rounding.portable(max("l_extendedprice"), 2).as("mx_p"),
      Rounding.portable(min("l_quantity"), 2).as("mn_q"),
      Rounding.portable(max("l_quantity"), 2).as("mx_q"),
      min("l_shipdate").as("mn_d"),
      max("l_shipdate").as("mx_d"),
      count(lit(1)).as("n"))

  /** Q10 eq_hist shading ≡ cume_dist over bin counts (`tf.shade` [U]).
    * Gate encoding is micro-unit BIGINTs (r19, [[Raster.shadeEqHistMicro]]):
    * the exact k/n rationals sit exactly on round(·,6) half-boundaries,
    * the engine-rounding-rule exposure the margins sweep flagged. */
  def q10(t: Tables): DataFrame =
    Raster.shadeEqHistMicro(
        canvas64.points(t.lineitem, col("l_quantity"), col("l_extendedprice")),
        col("c"))
      .transform(sortedSmall(_, col("xb"), col("yb")))

  // ── §2.6 windows ──────────────────────────────────────────────────────

  /** Q11 continuous→categorical discretization (`--cnum` [U]) via ntile. */
  def q11(t: Tables): DataFrame =
    t.events
      .filter(col("event_id") % 20 === 0)
      .select(
        col("event_id"),
        ntile(16).over(Window.orderBy(col("value"), col("event_id")))
          .cast("long").as("bucket"))
      .transform(sortedSmall(_, col("event_id")))

  /** Q12 conjugate union (uv mirror through origin, `--noconj` off [U]).
    * `+ 0.0` collapses IEEE `-0.0` to `0.0` on both engines (§5.3 hazard). */
  def q12(t: Tables): DataFrame = {
    // UNION ALL of a projection and its negation would scan lineitem twice;
    // emitting both mirror points per input row via explode reads it once.
    val x = col("l_discount") - 0.05
    val y = col("l_tax") - 0.04
    t.lineitem
      .filter(col("l_orderkey") % 100 === 0)
      .select(explode(array(
        struct(x.as("x"), y.as("y")),
        struct((-x).as("x"), (-y).as("y")))).as("p"))
      .select(
        (Rounding.portable(col("p.x"), 4) + 0.0).as("x"),
        (Rounding.portable(col("p.y"), 4) + 0.0).as("y"))
      .transform(sortedLarge(_, col("x"), col("y")))
  }

  /** Q13 global top-k → TakeOrderedAndProject (no full sort at scale). */
  def q13(t: Tables): DataFrame =
    t.orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_totalprice")
      .limit(25)

  /** Q14 distinct counts (antenna/baseline enumeration analog [U]).
    *
    * One pass: the distinct (l_suppkey, l_partkey) PAIR set is computed
    * first (~80 k rows at sf0.1 — it is the partsupp relation), and both
    * single-column distinct counts are derived FROM it: every suppkey /
    * partkey in the table appears in at least one pair, so
    * `countDistinct` over the pair set equals `countDistinct` over the
    * source (both drop nulls). The pair count is a plain `count(*)` over
    * the same set — the distinct already happened, and (unlike
    * multi-argument `countDistinct(a, b)`, which drops tuples where
    * EITHER column is null) it keeps null-containing tuples, matching
    * the oracle's `count(*) FROM (SELECT DISTINCT a, b …)`.
    *
    * This replaces three cross-joined full-table distinct shuffles
    * (round ≤6 form, 0.88 s serial at sf0.1) with ONE heavy shuffle over
    * the 600 k-row table; the follow-up multi-distinct aggregate plans an
    * Expand, but over the 80 k-row pair set that is noise. At 100× the
    * win grows: one wide shuffle instead of three.
    *
    * The explicit `repartition` BEFORE the distinct skips the partial
    * aggregation pass: the exchange's HashPartitioning already satisfies
    * the aggregate's distribution, so Catalyst plans one complete-mode
    * HashAggregate instead of partial→exchange→final — one fewer full
    * hash pass over the 600 k rows (measured 0.39 s vs 0.57 s best-of-5
    * at sf0.1). The tradeoff is shuffling raw rows instead of map-side-
    * combined ones, which is the RIGHT side of the trade for this data
    * shape at any scale: each scan partition sees a given (suppkey,
    * partkey) pair ~once (≈7.5 rows per pair spread over the whole
    * table), so the skipped partial pass would have combined almost
    * nothing while paying a full hash-probe per row.
    *
    * DECIDED (round 10, closing three rounds of re-litigation): this is
    * the terminal formulation for the exact contract. The residual gap
    * vs BASELINE.md's 49.9 ms (DuckDB fuses all three distincts into one
    * single-process pass with no job-dispatch floor) is a CONTRACT COST:
    * any exact distributed form pays >= 1 wide shuffle + Spark's ~40-60 ms
    * per-job floor x 2 jobs, which alone exceeds the baseline at toy
    * scale. It is NOT a scale risk — the shape is one shuffle + tiny
    * aggregate at any SF. When the exactness contract relaxes, the
    * drop-in is `ApproxOps.approxDistinct` (HLL, one map-side pass, no
    * distinct shuffle), pinned against this query in ApproxOpsSpec. */
  def q14(t: Tables): DataFrame =
    t.lineitem.select("l_suppkey", "l_partkey")
      .repartition(col("l_suppkey"), col("l_partkey")).distinct()
      .agg(
        countDistinct(col("l_suppkey")).as("ds"),
        countDistinct(col("l_partkey")).as("dp"),
        count(lit(1)).as("dpair"))

  /** Q15 semi + anti join counts. */
  def q15(t: Tables): DataFrame = {
    val cond = col("c_custkey") === col("o_custkey")
    val semi = t.customer.join(t.orders, cond, "left_semi").agg(count(lit(1)).as("semi"))
    val anti = t.customer.join(t.orders, cond, "left_anti").agg(count(lit(1)).as("anti"))
    semi.crossJoin(anti)
  }

  /** Q16 rank per group. The `o_custkey % 25` predicate is pushed BELOW the
    * window (it filters whole partitions of the PARTITION BY key, so the
    * rewrite is semantics-preserving) — the scan+sort then touches 1/25th
    * of the data; Catalyst does not do this rewrite itself. */
  def q16(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t.orders
      .filter(col("o_custkey") % 25 === 0)
      .withColumn("r", rank().over(w).cast("long"))
      .filter(col("r") <= 2)
      .select("o_custkey", "o_orderkey", "o_totalprice", "r")
      .transform(sortedSmall(_, col("o_custkey"), col("r"), col("o_orderkey")))
  }

  // ── §2.8 scalar function library ──────────────────────────────────────

  /** Q17 string functions (label munging, `col_to_label` [U]). */
  def q17(t: Tables): DataFrame =
    t.part
      .filter(col("p_partkey") % 20 === 0)
      .select(
        col("p_partkey"),
        lower(col("p_type")).as("t"),
        translate(col("p_brand"), "#", "_").as("b"),
        substring(col("p_name"), 1, 8).as("s8"),
        length(col("p_name")).cast("long").as("ln"))
      .transform(sortedSmall(_, col("p_partkey")))

  /** Q18 date_trunc day (MJD→datetime axis analog [U]). */
  def q18(t: Tables): DataFrame =
    t.events
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("n"), Rounding.portable(sum("value"), 2).as("s"))
      .transform(sortedSmall(_, col("d")))

  /** Q19 JSON field extraction over `events.props` (extension). */
  def q19(t: Tables): DataFrame =
    t.events
      .groupBy("event_type")
      .agg(
        // try_cast: a digit-free props row yields NULL per row instead of
        // aborting the whole query under ANSI (oracle uses TRY_CAST too)
        sum(expr("try_cast(regexp_extract(props, '([0-9]+)', 1) AS INT)")).as("ks"),
        count(lit(1)).as("n"))
      .transform(sortedSmall(_, col("event_type")))

  /** Q20 array explode + positional stats (`dataframe_factory` long-form
    * bridge [U]) — `posexplode` is the built-in Generator for it. */
  def q20(t: Tables): DataFrame =
    t.embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos").cast("long").as("pos"), col("v").cast("double").as("v"))
      .groupBy("pos")
      .agg(
        Rounding.portable(avg("v"), 6).as("a"),
        Rounding.portable(min("v"), 6).as("mn"),
        Rounding.portable(max("v"), 6).as("mx"))
      .transform(sortedSmall(_, col("pos")))

  // ── §2.9 time / sessions / streams (batch parity forms) ───────────────

  /** Q21 tumbling window aggregate (streaming parity: `window(ts, '1 hour')`). */
  def q21(t: Tables): DataFrame =
    t.events
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), Rounding.portable(sum("value"), 2).as("s"))
      .transform(sortedSmall(_, col("h"), col("event_type")))

  /** Q22 gap sessionization (streaming parity: `session_window`).
    *
    * NO presentation sort (r19): the driver's canon protocol sorts rows
    * before hashing, so an ORDER BY on an O(N)-row result is pure
    * presentation — and the checkpoint-materialize + range sort it costs
    * was a third of this query's wall (measured 0.30 → 0.19 s median at
    * sf0.1, interleaved A/B). At 100 TB a terminal sort of an O(N)
    * result belongs to the consumer that needs it, not the session
    * operator. The lazy large-sort OPERATOR stays gated by q01/q12/q30
    * (§2.7). */
  def q22(t: Tables): DataFrame =
    Sessionize.withSessionId(t.events, col("user_id"), col("ts"), col("event_id"), 1800L)
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n"), min("ts").as("t0"), max("ts").as("t1"))

  /** Q23 interval (range) join: equi key + time-range conjuncts; planner
    * sort-merges on `user_id` and filters the range. */
  def q23(t: Tables): DataFrame = {
    val e1 = t.events
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id").as("u1"), col("ts").as("ts1"))
    val e2 = t.events.select(col("user_id").as("u2"), col("ts").as("ts2"))
    e1.join(e2,
        col("u1") === col("u2") &&
        col("ts2") > col("ts1") &&
        unix_micros(col("ts2")) <= unix_micros(col("ts1")) + 600L * 1000000L)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n"))
      .transform(sortedSmall(_, col("event_id")))
  }

  // ── north-star: dedup / similarity / text ─────────────────────────────

  /** Q24 exact dedup by content hash (north star). */
  def q24(t: Tables): DataFrame =
    t.documents.agg(
      count(lit(1)).as("total"),
      countDistinct(md5(col("text"))).as("uniq"))

  /** Q25 brute-force cosine top-k: broadcast the 5 query vectors, native
    * codegen'd [[graft.plans.CosineSimilarity]] per pair (single fused
    * loop, no per-row array allocation), per-query top-k via row_number. */
  def q25(t: Tables): DataFrame = {
    val emb = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val pairs = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.plans.GraftFunctions.cosineSimilarity(col("qe"), col("e")).as("sim0"))
    val w = Window.partitionBy("qid").orderBy(col("sim0").desc, col("vec_id"))
    pairs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .transform(sortedSmall(_, col("qid"), col("rn")))
      .select(col("qid"), col("vec_id"), Rounding.portable(col("sim0"), 6).as("sim"))
  }

  /** Q26 token top-n (tokenize → count; text-analysis north star). */
  def q26(t: Tables): DataFrame =
    t.documents
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(20)

  // ── shaping / set ops / as-of ─────────────────────────────────────────

  /** Q27 rollup over the dimension chain; NULLS FIRST made explicit. */
  // The rollup(String*) overload resolves names via df(name), which tags the
  // grouping attributes with dataset-id metadata; over a join that misfires
  // Spark's ambiguous-self-join detector. The rollup(Column*) overload with
  // plain col() carries no metadata and resolves cleanly.
  def q27(t: Tables): DataFrame =
    t.supplier
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n"), Rounding.portable(sum("s_acctbal"), 2).as("bal"))
      .transform(sortedSmall(_, col("r_name").asc_nulls_first, col("n_name").asc_nulls_first))

  /** Q28 INTERSECT (distinct set semantics). */
  def q28(t: Tables): DataFrame = {
    val purchase = t.events
      .filter(col("event_type") === "purchase" && col("ts") < to_timestamp(lit("2024-01-08")))
      .select("user_id")
    val error = t.events
      .filter(col("event_type") === "error" && col("ts") < to_timestamp(lit("2024-01-03")))
      .select("user_id")
    sortedSmall(purchase.intersect(error), col("user_id"))
  }

  /** Q29 EXCEPT (distinct set semantics). */
  def q29(t: Tables): DataFrame = {
    val signup = t.events
      .filter(col("event_type") === "signup" && col("ts") < to_timestamp(lit("2024-01-05")))
      .select("user_id")
    val purchase = t.events
      .filter(col("event_type") === "purchase" && col("ts") < to_timestamp(lit("2024-01-03")))
      .select("user_id")
    sortedSmall(signup.except(purchase), col("user_id"))
  }

  /** Q30 as-of join (latest prior view per purchase) as declared: left
    * range join + max aggregate. */
  def q30(t: Tables): DataFrame = {
    val p = t.events
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("pts"))
    val v = t.events
      .filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("ts").as("vts"))
    p.join(v, col("user_id") === col("vu") && col("vts") < col("pts"), "left")
      .groupBy("event_id")
      .agg(max(col("vts")).as("last_view"))
      .transform(sortedLarge(_, col("event_id")))
  }

  /** name → query, keyed like SURVEY.md §8. */
  val all: Map[String, Tables => DataFrame] = Map(
    "q01_project_math"     -> q01 _,
    "q02_filter_flagmask"  -> q02 _,
    "q03_subset_in_range"  -> q03 _,
    "q04_dim_join_chain"   -> q04 _,
    "q05_group_stats"      -> q05 _,
    "q06_raster2d_count"   -> q06 _,
    "q07_raster2d_mean"    -> q07 _,
    "q08_raster2d_count_cat" -> q08 _,
    "q09_minmax_ranges"    -> q09 _,
    "q10_eqhist_cumedist"  -> q10 _,
    "q11_ntile_discretize" -> q11 _,
    "q12_conjugate_union"  -> q12 _,
    "q13_topk"             -> q13 _,
    "q14_distinct_counts"  -> q14 _,
    "q15_semi_anti_join"   -> q15 _,
    "q16_rank_per_group"   -> q16 _,
    "q17_string_fns"       -> q17 _,
    "q18_date_trunc_day"   -> q18 _,
    "q19_json_extract"     -> q19 _,
    "q20_array_explode_stats" -> q20 _,
    "q21_tumbling_window"  -> q21 _,
    "q22_sessionize"       -> q22 _,
    "q23_interval_join"    -> q23 _,
    "q24_exact_dedup"      -> q24 _,
    "q25_cosine_topk"      -> q25 _,
    "q26_token_topn"       -> q26 _,
    "q27_rollup"           -> q27 _,
    "q28_intersect"        -> q28 _,
    "q29_except"           -> q29 _,
    "q30_asof_join"        -> q30 _,
  )
}
