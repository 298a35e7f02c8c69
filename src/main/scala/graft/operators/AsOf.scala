package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join, UNION-SORT form — the power-law-key escape hatch for the
  * contract shape (Q30: left range join + `max`, SURVEY §2.4).
  *
  * The join-then-max form materializes `|probe_k| × |events_k|` rows per
  * key before aggregating — QUADRATIC in a hot key's event count (one
  * user with 10⁵ views and 10⁵ purchases is 10¹⁰ intermediate rows; the
  * r11 verdict named this the one as-of scale risk). This form instead
  * UNIONS the two sides tagged, sorts each key's timeline once, and
  * reads the answer off a running `max` window — LINEAR in the key's
  * event count, one shuffle + one sort, no intermediate blowup
  * (`asof_hotuser` probe: measured quadratic-vs-linear separation,
  * recorded in ROUND_NOTES.md, round 12; probe source `Soak.scala` at
  * 99b069a).
  *
  * Strict-inequality semantics match the contract form exactly: probes
  * order BEFORE events at equal timestamps (tag 0 < 1), and the running
  * max over `(unboundedPreceding, currentRow)` therefore sees only
  * events with `ts` strictly below the probe's — spec-pinned equal to
  * Q30's answer row for row, including ties and no-prior-event NULLs.
  *
  * NULL keys: the contract join (`e.key = p.key`) never matches NULL, so
  * a null-key probe must answer `last_ts` NULL no matter what null-key
  * events exist. `Window.partitionBy` would instead group all NULL keys
  * into ONE partition and let null-key events feed null-key probes — so
  * null-key EVENTS are dropped before the union (they can match nothing),
  * while null-key probes flow through and read NULL off the empty max.
  * Pinned by the null-key case in AsOfSpec.
  *
  * Returns one row per probe: `(id, last_ts)`. */
object AsOf {
  def lastEventBefore(
      probes: DataFrame, probeKey: Column, probeTs: Column, probeId: Column,
      events: DataFrame, eventKey: Column, eventTs: Column): DataFrame = {
    val p = probes.select(probeKey.as("__ao_k"), probeTs.as("__ao_ts"),
      lit(0).as("__ao_tag"), probeId.as("__ao_id"))
    val e = events.filter(eventKey.isNotNull)
      .select(eventKey.as("__ao_k"), eventTs.as("__ao_ts"),
      lit(1).as("__ao_tag"), lit(null).cast(p.schema("__ao_id").dataType).as("__ao_id"))
    val w = Window.partitionBy("__ao_k")
      .orderBy(col("__ao_ts"), col("__ao_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.unionAll(e)
      .withColumn("__ao_last", max(when(col("__ao_tag") === 1, col("__ao_ts"))).over(w))
      .filter(col("__ao_tag") === 0)
      .select(col("__ao_id").as("id"), col("__ao_last").as("last_ts"))
  }
}
