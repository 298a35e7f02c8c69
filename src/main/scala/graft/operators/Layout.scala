package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout operators for the 100 TB path (SURVEY.md §4 physical
  * config; the builder prompt's "bucketing for co-located joins, salting
  * for skew").
  *
  * These don't change query semantics — they change where the shuffles go:
  *  - bucketing pre-shuffles a table ONCE at write time; every subsequent
  *    equi-join/aggregation on the bucket keys reads co-located data and
  *    plans with no Exchange;
  *  - salting splits a pathologically hot key across `saltBuckets`
  *    sub-partitions at the cost of replicating the (small) build side —
  *    the manual fallback where AQE's skew-join splitting can't help
  *    (e.g. a single key larger than an executor).
  */
object Layout {

  /** Write `df` as a bucketed, sorted table registered in the session
    * catalog. Joins/aggregations between tables bucketed the same way on
    * the same keys plan without a shuffle.
    *
    * With the in-memory catalog, a previous session can leave the managed
    * location on disk while the table registration is gone — `overwrite`
    * then fails with LOCATION_ALREADY_EXISTS. Clean up such orphaned
    * locations before writing. */
  def writeBucketed(df: DataFrame, bucketCols: Seq[String], buckets: Int, table: String): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    df.write
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** Z-ORDER (Morton) clustering key: interleave the low `bits` bits of
    * two non-negative integer columns — bit i of `x` lands at position
    * 2i, bit i of `y` at 2i+1. Rows sorted by this key cluster
    * multi-dimensionally: a range predicate on EITHER dimension maps to
    * a bounded set of z-ranges, so parquet row-group min/max stats prune
    * scans for both `WHERE x BETWEEN …` and `WHERE y BETWEEN …` from one
    * physical order — the Delta/Iceberg `ZORDER BY` layout, where a
    * linear sort only ever serves its leading column. Pure integer
    * column arithmetic (shifts/masks — codegen'd, oracle-portable);
    * callers bin continuous axes first (e.g. [[Raster]] bins).
    * Inputs must fit in `bits` bits — values ≥ 2^bits would alias
    * (silently interleaving garbage), so the caller's binning contract
    * matters; `bits ≤ 31` keeps the result in a positive long. */
  def zValue2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Repartition-by-range + in-partition sort on the z-key: the write
    * shape that makes [[zValue2]] effective — each output file covers a
    * compact z-range, i.e. a rectangle-ish region of (x, y) space, so
    * file/row-group stats prune on both dimensions. */
  def zOrdered(df: DataFrame, x: Column, y: Column, bits: Int, partitions: Int): DataFrame =
    df.withColumn("__z", zValue2(x, y, bits))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")

  /** HILBERT-curve clustering key — [[zValue2]]'s better-locality
    * sibling: the Hilbert space-filling curve visits every cell of the
    * 2^bits × 2^bits grid such that CONSECUTIVE curve positions are
    * always grid-adjacent (Morton order jumps across the plane at every
    * power-of-two boundary), so an axis-aligned query rectangle decomposes
    * into FEWER, longer runs of curve positions — fewer files/row-groups
    * touched per range predicate at the same file count (the `hilbert_ab`
    * probe's measurement is recorded in ROUND_NOTES.md, "Probe results
    * kept when Soak's A/B modes were deleted"; probe source `Soak.scala`
    * at 99b069a). The standard iterative xy→d
    * transform: per level s = 2^i from the top bit down, quadrant digit
    * `(3·rx) xor ry` weighted s², then the lower quadrant is reflected/
    * transposed into canonical orientation. Pure integer CASE/shift
    * arithmetic — engine-exact, oracle-portable as unrolled per-level
    * CTEs. Same caller contract as [[zValue2]]: non-negative inputs
    * binned to < 2^bits.
    *
    * Implemented as the native codegen expression
    * [[graft.plans.HilbertXY2D]] (`hilbert_xy2d(x, y, bits)`): the
    * transform carries state across levels, so a Column-tree
    * formulation must inline each level's trees into the next —
    * ~4^bits nodes, which at bits=8 meant a 79 MiB task binary and
    * ~10 min of driver-side optimizer/codegen PER RUN (it timed out
    * round 15's bench capture). The native form is one expression
    * node, a flat O(bits) per-row loop, whole-stage codegen'd —
    * constant plan size at any bits. Requires graft function
    * registration (`GraftFunctions.ensureRegistered` — done by
    * [[graft.Tables]]/[[graft.Engine]]; cluster deployments use
    * `spark.sql.extensions=graft.plans.GraftExtensions`).
    * [[hilbertValue2Unrolled]] keeps the pure-Column form as a
    * low-bits cross-check (`LayoutSpec` pins equality). */
  def hilbertValue2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31,
      s"bits must be in [1,31] (d < 4^bits stays a positive long), got $bits")
    graft.plans.GraftFunctions.hilbertXY2D(x.cast("long"), y.cast("long"), bits)
  }

  /** The pre-r16 pure-Column formulation of [[hilbertValue2]] — kept
    * ONLY as an independent cross-check of the native expression (and
    * as registration-free fallback at toy widths): its expression tree
    * grows ~4× per level, so it is capped at bits ≤ 5 (~1k nodes).
    * Semantics identical by construction; `LayoutSpec` pins equality
    * against [[hilbertValue2]] across the full grid at each width. */
  def hilbertValue2Unrolled(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 5,
      s"unrolled Column form is a cross-check only: bits must be in [1,5] " +
      s"(tree grows ~4x per level), got $bits — use hilbertValue2")
    var cx = x.cast("long")
    var cy = y.cast("long")
    var d = lit(0L)
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      val rx = when(cx.bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      val ry = when(cy.bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      d = d + lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry)
      val nx = when(ry === 0, when(rx === 1, lit(s - 1L) - cy).otherwise(cy)).otherwise(cx)
      val ny = when(ry === 0, when(rx === 1, lit(s - 1L) - cx).otherwise(cx)).otherwise(cy)
      cx = nx
      cy = ny
    }
    d
  }

  /** [[zOrdered]] on the Hilbert key: range-partition + in-partition
    * sort, each output file a contiguous curve interval ≈ a compact
    * connected 2-D region. */
  def hilbertOrdered(df: DataFrame, x: Column, y: Column, bits: Int,
      partitions: Int): DataFrame =
    df.withColumn("__h", hilbertValue2(x, y, bits))
      .repartitionByRange(partitions, col("__h"))
      .sortWithinPartitions("__h")

  /** Skew-resistant equi-join: the probe side's rows are spread across
    * `saltBuckets` sub-keys (deterministically, by row hash), the build
    * side is replicated across all of them. Result is identical to
    * `left.join(right, keys)` for any inner equi-join. */
  /** Deterministic SEEDED shuffle — the reproducible-training-order
    * primitive: assign every row a shard and a position within it from
    * nothing but `(seed, key)`, so the epoch order is identical across
    * re-runs, engines and partitionings, and changing the seed gives an
    * independent permutation (the `orderBy(rand())` it replaces is
    * none of those). Sort key = md5(seed|key); shard = its top 16 bits
    * mod `nShards`; position = rank of the full digest within the
    * shard (key tie-break covers the theoretical digest collision).
    * One window shuffle on the shard key — at write time this is the
    * same exchange the sharded output needs anyway. Appends (shard,
    * pos). */
  def seededShuffle(df: DataFrame, key: Column, seed: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val h = md5(concat(lit(seed), lit("|"), key.cast("string")))
    val shard = pmod(conv(substring(h, 1, 4), 16, 10).cast("long"), lit(nShards.toLong))
    // collision-proof internal name: a user column named "__h" must pass
    // through untouched ("shard"/"pos" are the declared outputs and DO
    // replace columns of those names)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("__seeded_shuffle_h"), key)
    df.withColumn("__seeded_shuffle_h", h)
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__seeded_shuffle_h")
  }

  /** RENDEZVOUS (highest-random-weight) sharding — Thaler & Ravishankar
    * 1998, the stable-assignment alternative to [[seededShuffle]]'s
    * `digest mod N`: each key scores every shard with
    * `md5(seed|key|shard)` and lands on the lexicographic-max score.
    * The property mod-N cannot offer: when the shard count grows N→N+1,
    * a key moves IFF the new shard's score beats its current max — so
    * exactly the ~1/(N+1) of keys whose new score wins relocate, and
    * every mover lands ON the new shard (mod-N reshuffles ~N/(N+1) of
    * ALL keys — at 100 TB that is re-writing the whole layout versus
    * topping up one shard). Evaluation is map-only in-row arithmetic:
    * the shard list is a literal array of (score, shard) structs and
    * `array_max` picks the winner by struct comparison (score first,
    * shard id as the theoretical-collision tie-break) — no shuffle, no
    * join, no state. Returns a Column, composable into any projection. */
  def rendezvousShard(key: Column, nShards: Int, seed: String): Column = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    array_max(array((0 until nShards).map { s =>
      struct(
        md5(concat(lit(seed), lit("|"), key.cast("string"), lit(s"|$s"))).as("h"),
        lit(s.toLong).as("s"))
    }: _*)).getField("s")
  }

  def saltedJoin(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], saltBuckets: Int): DataFrame = {
    val saltedLeft = left.withColumn(
      "__graft_salt", pmod(xxhash64(left.columns.map(col): _*), lit(saltBuckets.toLong)))
    val saltedRight = right.withColumn(
      "__graft_salt", explode(sequence(lit(0L), lit(saltBuckets.toLong - 1))))
    saltedLeft.join(saltedRight, keys :+ "__graft_salt").drop("__graft_salt")
  }

  /** KEY-SKEW AUDIT — the diagnostic a 100 TB job runs BEFORE choosing
    * between a plain shuffle, [[saltedJoin]], or a hot-key escape hatch
    * (the as-of union-sort form, line-dedup `hotKeySafe`): how
    * concentrated is this key, and which values are the hot ones?
    *
    * Returns the top `topK` keys by row count with the global context on
    * every row: `(rank, key, cnt, share, ratio_to_mean, n_keys, n_rows,
    * max_ratio)` — `share` = this key's fraction of all rows,
    * `ratio_to_mean` = cnt / (n_rows / n_keys) (a uniform key audits at
    * 1.0; AQE's skew threshold thinks in exactly this ratio), `max_ratio`
    * = the hottest key's ratio (the one number a planner gate would
    * threshold on). Keys render as strings (`NULL` for null keys — nulls
    * are frequently THE hot key in the wild, so they are counted, not
    * dropped).
    *
    * Shape at scale: ONE map-side-combined count aggregate (shuffle =
    * distinct-key volume), a 1-row stats aggregate over the count table,
    * and a distributed `TakeOrdered` top-k — the count table is never
    * globally sorted and never single-partitioned; ranks are assigned by
    * a window over the k collected survivors only (k rows, bounded).
    * Deterministic: ties break by key string ascending. */
  def skewAudit(df: DataFrame, key: Column, topK: Int = 5): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val counts = df
      .select(coalesce(key.cast("string"), lit("NULL")).as("key"))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      sum("cnt").as("n_rows"),
      max("cnt").as("__sk_max"))
    val top = counts.orderBy(col("cnt").desc, col("key")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("key"))
    top.crossJoin(broadcast(stats))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("key"), col("cnt"),
        (col("cnt").cast("double") / col("n_rows")).as("share"),
        // cast BEFORE multiplying: cnt·n_keys in long arithmetic can
        // overflow at petabyte key cardinalities
        (col("cnt").cast("double") * col("n_keys") / col("n_rows")).as("ratio_to_mean"),
        col("n_keys"), col("n_rows"),
        (col("__sk_max").cast("double") * col("n_keys") / col("n_rows")).as("max_ratio"))
  }
}
