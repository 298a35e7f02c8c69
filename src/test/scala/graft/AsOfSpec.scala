package graft

import org.apache.spark.sql.functions._

import graft.operators.AsOf

/** [[AsOf.lastEventBefore]] — the union-sort as-of form must equal the
  * contract join-then-max shape (Q30) everywhere, including ties and
  * no-prior-event rows; its existence is justified by the hot-key probe
  * (`asof_hotuser`, recorded in ROUND_NOTES.md, round 12; probe source
  * `Soak.scala` at 99b069a), not by these fixtures. */
class AsOfSpec extends SparkSpec {
  import spark.implicits._

  private def unionForm(t: Tables) = {
    val p = t.events.filter(col("event_type") === "purchase")
    val v = t.events.filter(col("event_type") === "view")
    AsOf.lastEventBefore(p, col("user_id"), col("ts"), col("event_id"),
        v, col("user_id"), col("ts"))
      .select(col("id").as("event_id"), col("last_ts").as("last_view"))
  }

  test("union-sort form equals Q30's join-then-max on the fixture events") {
    val want = Queries.q30(sf0001).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val got = unionForm(sf0001).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got.size == want.size && got == want,
      s"forms diverged on ${got.toSet.diff(want.toSet).take(3)}")
    assert(want.valuesIterator.exists(_.isEmpty) &&
      want.valuesIterator.exists(_.nonEmpty),
      "fixture must exercise both the matched and the no-prior-view case")
  }

  test("strict inequality: an equal-timestamp event is NOT 'before' the probe") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val earlier = java.sql.Timestamp.valueOf("2024-01-01 09:00:00")
    val probes = Seq((1L, 7L, ts)).toDF("event_id", "user_id", "ts")
    // one view exactly AT the probe ts (must not count), one strictly before
    val events = Seq((7L, ts), (7L, earlier)).toDF("user_id", "ts")
    val got = AsOf.lastEventBefore(probes, col("user_id"), col("ts"), col("event_id"),
      events, col("user_id"), col("ts")).collect()
    assert(got.length == 1 && got(0).getTimestamp(1) == earlier, s"${got.toSeq}")
    // and with ONLY the tie present, the answer is NULL
    val got2 = AsOf.lastEventBefore(probes, col("user_id"), col("ts"), col("event_id"),
      Seq((7L, ts)).toDF("user_id", "ts"), col("user_id"), col("ts")).collect()
    assert(got2.length == 1 && got2(0).isNullAt(1), s"${got2.toSeq}")
  }

  test("null keys: a null-key probe answers NULL even when null-key events exist") {
    // the contract join (e.key = p.key) never matches NULL — but
    // Window.partitionBy groups all NULL keys into ONE partition, so
    // without the events-side isNotNull filter a null-key EVENT would
    // feed a null-key PROBE. Fixture: a null-key probe surrounded by
    // null-key events that would wrongly match, plus a normal key that
    // must be unaffected by the filter.
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val probes = Seq(
      (1L, Option(7L), ts("2024-01-01 10:00:00")),
      (2L, Option.empty[Long], ts("2024-01-01 10:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val events = Seq(
      (Option(7L), ts("2024-01-01 09:00:00")),
      (Option.empty[Long], ts("2024-01-01 09:00:00")), // must match NOTHING
      (Option.empty[Long], ts("2024-01-01 09:30:00"))
    ).toDF("user_id", "ts")
    val got = AsOf.lastEventBefore(probes, col("user_id"), col("ts"), col("event_id"),
        events, col("user_id"), col("ts"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(2L).isEmpty, s"null-key probe matched a null-key event: $got")
    assert(got(1L).contains(ts("2024-01-01 09:00:00")), s"non-null key affected: $got")
    // and the contract join form agrees row for row on this fixture
    val joinForm = probes.as("p")
      .join(events.as("v"), col("p.user_id") === col("v.user_id") &&
        col("v.ts") < col("p.ts"), "left")
      .groupBy(col("p.event_id")).agg(max(col("v.ts")).as("last_ts"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got == joinForm, s"union form $got != join form $joinForm")
  }

  test("hot key: both forms agree where the join form is still runnable") {
    // one user carries 2000 views and 50 purchases (join form: 100k
    // intermediate rows here; at production hot-key sizes it is the
    // quadratic blowup the union form exists to avoid)
    val views = spark.range(2000).selectExpr("42L AS user_id",
      "timestamp_micros(1700000000000000 + id * 1000000) AS ts")
    val purchases = spark.range(50).selectExpr("id AS event_id", "42L AS user_id",
      "timestamp_micros(1700000000500000 + id * 40000000) AS ts")
    val joinForm = purchases.as("p")
      .join(views.as("v"), col("p.user_id") === col("v.user_id") &&
        col("v.ts") < col("p.ts"), "left")
      .groupBy(col("p.event_id")).agg(max(col("v.ts")).as("last_ts"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val union = AsOf.lastEventBefore(purchases, col("user_id"), col("ts"),
        col("event_id"), views, col("user_id"), col("ts"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(union == joinForm, "hot-key answers diverged")
  }
}
