package graft

import org.apache.spark.sql.functions._

import graft.functions.Rounding

/** Pins [[Rounding.portable]] to a DuckDB 1.0.0 ground-truth table
  * (generated this round with `SELECT round(CAST(v AS DOUBLE), k)`) on
  * half-way and boundary values, and documents where Spark's built-in
  * `round` diverges from that oracle. */
class RoundingSpec extends SparkSpec {
  import spark.implicits._

  // (value, duckdb round(v,2), duckdb round(v,6), duckdb round(v,0))
  private val duckdb = Seq(
    (0.285, 0.28, 0.285, 0.0),
    (-0.285, -0.28, -0.285, -0.0),
    (2.675, 2.68, 2.675, 3.0),
    (-2.675, -2.68, -2.675, -3.0),
    (1.005, 1.0, 1.005, 1.0),
    (0.125, 0.13, 0.125, 0.0),
    (0.135, 0.14, 0.135, 0.0),
    (28.5, 28.5, 28.5, 29.0),
    (-28.5, -28.5, -28.5, -29.0),
    (38254.935, 38254.94, 38254.935, 38255.0),
    (5e-07, 0.0, 1e-06, 0.0),
    (123456.785, 123456.79, 123456.785, 123457.0),
    (0.5, 0.5, 0.5, 1.0),
    (1.5, 1.5, 1.5, 2.0),
    (2.5, 2.5, 2.5, 3.0),
    (-2.5, -2.5, -2.5, -3.0))

  test("portable rounding reproduces the DuckDB oracle bit-for-bit") {
    val got = duckdb.map(_._1).toDF("v")
      .select(
        Rounding.portable(col("v"), 2).as("r2"),
        Rounding.portable(col("v"), 6).as("r6"),
        Rounding.portable(col("v"), 0).as("r0"))
      .as[(Double, Double, Double)].collect()
    duckdb.zip(got).foreach { case ((v, e2, e6, e0), (g2, g6, g0)) =>
      // compare bits (modulo -0.0 == 0.0, which the canonicalizer folds)
      assert(g2 == e2, s"round($v, 2): got $g2, DuckDB $e2")
      assert(g6 == e6, s"round($v, 6): got $g6, DuckDB $e6")
      assert(g0 == e0, s"round($v, 0): got $g0, DuckDB $e0")
    }
  }

  test("built-in round diverges from the oracle on decimal-half-way values (why portable exists)") {
    val builtin = Seq(0.285, 1.005).toDF("v")
      .select(round(col("v"), 2).as("r")).as[Double].collect().toSeq
    assert(builtin == Seq(0.29, 1.01),
      "Spark HALF_UP on the decimal repr rounds these up; DuckDB rounds them to 0.28 / 1.0")
  }

  private val v = 0.123456789
  private def r(scale: Int) = Rounding.portable(col("v"), scale)

  test("bypassing(k) leaves scale-k rounds unrounded only for columns built inside its block") {
    val (in2, in6) = Rounding.bypassing(2)((r(2), r(6)))
    val row = Seq(v).toDF("v").select(in2, in6, r(2)).as[(Double, Double, Double)].head()
    assert(row == ((v, 0.123457, 0.12)),
      "inside: scale 2 bypassed, scale 6 still rounds; outside: scale 2 rounds")
  }

  test("bypassing restores normal rounding after its block throws") {
    intercept[IllegalStateException] {
      Rounding.bypassing(2) { r(2); throw new IllegalStateException("boom") }
    }
    assert(Seq(v).toDF("v").select(r(2)).as[Double].head() == 0.12)
  }

  test("recordingScales returns the scales a block rounds at, and nothing outside it") {
    assert(Rounding.recordingScales { r(2); r(6); r(2) } == Set(2, 6))
    assert(Rounding.recordingScales(col("v") + 1) == Set.empty)
    assert(Rounding.recordingScales(Queries.lazySorts(Queries.q01(sf0001))) == Set(4, 6),
      "q01 rounds amp at 6 and phase at 4")
  }
}
