package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact ntile discretization, RANGE-RANK form — the scale-safe sibling
  * of Q11's contract shape (`--cnum` [U]: `ntile(16) OVER (ORDER BY
  * value, id)`), whose empty `Window.orderBy` funnels EVERY row through
  * one partition's sort — the one scale-killer in the gated surface
  * (flagged by the r11-r13 verdicts; this operator is the prescribed
  * fix, with q11 itself left as the contract declares it).
  *
  * Shape — one PARALLEL full-data shuffle, no single-partition sort:
  *
  *  1. `repartitionByRange(orderCols)` + `sortWithinPartitions`: range
  *     partitions are non-overlapping and ordered by partition index,
  *     and each partition sorts only its own slice — the global sort,
  *     parallelized (what a 1000-executor cluster actually does for
  *     ORDER BY; the ntile window refuses to).
  *  2. `monotonically_increasing_id()` projected AFTER that sort is
  *     `pid·2^33 + local position` by construction — shift/mask turns
  *     it into (partition id, 1-based local rank) with zero extra work.
  *  3. Per-partition row counts aggregate to a PARTITION-COUNT-sized
  *     table (32 rows here, one per shuffle partition — a dimension, not
  *     data); a running sum over it yields each partition's global rank
  *     offset. The single-partition window this needs runs over those
  *     ~32 rows, never over the corpus.
  *  4. The offsets broadcast-join back on partition id (map-only), and
  *     `bucket` is the closed-form ntile split of `offset + local rank`
  *     against total `n`: the first `n % B` buckets take `n div B + 1`
  *     rows, the rest `n div B` — integer `div` arithmetic, bit-equal to
  *     the window function's assignment for ANY tie pattern because it
  *     consumes the same total order (ties must be broken by a unique
  *     trailing order column, exactly as Q11's contract orders by
  *     `(value, event_id)`).
  *
  * Equality with `ntile` over the same order is pinned in
  * `DiscretizeSpec` (fixture parity with Q11, a heavy-tie fixture, and
  * the n < buckets edge); the no-single-partition-sort claim is
  * plan-gated in PlanShapeSpec and the form is oracle-gated as q146
  * against Q11's own DuckDB ntile SQL. Measured (`discretize_ab` probe,
  * checksum-equal legs; recorded in ROUND_NOTES.md, round 14, probe
  * source `Soak.scala` at 99b069a): across a 3M → 12M row step the window ntile
  * grows 3.53 s → 15.22 s (the one-partition sort), this form 1.48 s →
  * 2.07 s — 7.3x at 12M on 32 cores, widening with parallelism. */
object Discretize {

  /** `(df + "bucket")` where bucket ≡ `ntile(buckets) OVER (ORDER BY
    * orderCols)`. `orderCols` must end in a tie-breaking unique column —
    * the same requirement a deterministic ntile has. */
  def ntileRangeRank(df: DataFrame, buckets: Int, orderCols: Column*): DataFrame = {
    require(buckets >= 1, s"need at least 1 bucket, got $buckets")
    require(orderCols.nonEmpty, "ntileRangeRank needs at least one order column")
    // Persisted because TWO branches below (the offsets aggregate and
    // the main join) consume this range-partitioned view: without the
    // cache their correctness would rest on ReuseExchange deduplicating
    // the exchange — RangePartitioner samples boundaries with an
    // RDD-id-derived seed, so two physical instantiations could place
    // the same row in different partitions and the broadcast offsets
    // would describe the wrong partitioning (e.g. under
    // spark.sql.exchange.reuse.enabled=false). The cache pins ONE
    // physical partitioning by construction. Storage follows the repo
    // pattern (MEMORY_AND_DISK; Bench/Soak clearCache between runs).
    val ranked = df
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("__nt_mid", monotonically_increasing_id())
      .withColumn("__nt_pid", shiftright(col("__nt_mid"), 33))
      .withColumn("__nt_rn", (col("__nt_mid") % (1L << 33)) + 1L)
      .drop("__nt_mid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-partition counts → cumulative offsets: one row per shuffle
    // partition (a partition-count-sized dimension, not data)
    val offs = ranked
      .groupBy(col("__nt_pid"))
      .agg(count(lit(1)).as("__nt_c"))
      .withColumn("__nt_off",
        coalesce(sum(col("__nt_c")).over(
          Window.orderBy(col("__nt_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__nt_n",
        sum(col("__nt_c")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("__nt_pid"), col("__nt_off"), col("__nt_n"))
    ranked
      .join(broadcast(offs), Seq("__nt_pid"))
      .withColumn("__nt_rank", col("__nt_off") + col("__nt_rn"))
      .withColumn("__nt_q", expr(s"__nt_n div ${buckets}L"))
      .withColumn("__nt_rem", col("__nt_n") % buckets)
      // first __nt_rem buckets hold (__nt_q + 1) rows, the rest __nt_q;
      // `div 0` in the ELSE arm cannot fire: when __nt_q = 0 every rank
      // satisfies rank <= rem (= n), so the THEN arm covers all rows
      .withColumn("bucket", expr(
        """CASE WHEN __nt_rank <= __nt_rem * (__nt_q + 1)
          |     THEN (__nt_rank - 1) div (__nt_q + 1) + 1
          |     ELSE __nt_rem + ((__nt_rank - __nt_rem * (__nt_q + 1)) - 1) div __nt_q + 1
          |END""".stripMargin).cast("long"))
      .drop("__nt_pid", "__nt_rn", "__nt_off", "__nt_n", "__nt_rank", "__nt_q", "__nt_rem")
  }
}
