package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-portable decimal rounding for DOUBLE columns.
  *
  * Spark's `round(x, k)` converts the double to its shortest decimal
  * representation and applies BigDecimal HALF_UP — a *decimal-string*
  * rule. DuckDB 1.0 computes `std::round(x * 10^k) / 10^k` in binary
  * double arithmetic — a *binary* rule. The two disagree whenever the
  * scaled product and the decimal string fall on opposite sides of a .5
  * boundary: `round(0.285, 2)` is 0.29 under Spark's rule (the string
  * "0.285" rounds up) but 0.28 under DuckDB's (0.285 stores as
  * 0.28499…98, ×100 = 28.499…996, rounds down). The round-1 fixtures are
  * half-way-free so the gate never tripped, but any new data with a
  * boundary value would diverge.
  *
  * [[portable]] evaluates DuckDB's form with Spark expressions: the
  * multiply and divide are identical IEEE-754 ops in both engines, and at
  * integer scale the two engines' rounding rules agree on every double
  * (an exact .5 fraction is representable only below 2^52, where HALF_UP
  * and `std::round` both round away from zero; above that no .5 fractions
  * exist). The result is therefore bit-identical to the DuckDB oracle's
  * `round(x, k)` by construction — verified against a DuckDB value table
  * in RoundingSpec.
  */
object Rounding {

  private val bypassScale = new scala.util.DynamicVariable[Option[Int]](None)
  private val recording =
    new scala.util.DynamicVariable[Option[java.util.Set[Integer]]](None)

  /** DIAGNOSTIC ONLY (graft.RoundingMargins): columns BUILT inside `body`
    * (on this thread) get [[portable]] calls AT SCALE k passed through
    * unrounded (other scales round normally), so the margin harness can
    * observe the pre-round doubles of exactly the columns rounded at k
    * and measure their distance to THAT scale's boundaries — a scale-2
    * currency sum must not be judged against a scale-6 grid it never
    * rounds to. The bypass ends with the block, however it exits, so it
    * cannot leak into a Verify or production plan built afterwards. */
  def bypassing[T](k: Int)(body: => T): T = bypassScale.withValue(Some(k))(body)

  /** DIAGNOSTIC ONLY: the scales of every [[portable]] call made while
    * building `body`, so the margin harness can learn which scales a
    * query actually rounds at (and bypass-run only those). Rounding is
    * planned at construction time, so for most queries nothing runs. */
  def recordingScales(body: => Any): Set[Int] = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    recording.withValue(Some(seen))(body)
    import scala.jdk.CollectionConverters._
    seen.asScala.map(_.intValue).toSet
  }

  /** ORDER-EXACT decimal sum (the q170/q179 integer-moment discipline
    * for currency columns, r18): for a column whose values are exact
    * `decimals`-decimal quantities — TPC-H prices/discounts/taxes, or
    * any product of such (decimals add) — snap each term to the integer
    * grid (`round(x·10^d)` as long, the integer-scale rounding both
    * engines agree on) and sum EXACT longs; long addition commutes, so
    * the sum is identical under any partial-aggregate merge order, and
    * the one division back is a fixed dag. Without this, a scale-2
    * currency gate hashes a float sum whose merge-order jitter grows
    * with the aggregate's magnitude — the exact fragility class r17's
    * q170 flip exposed (RoundingMargins flagged q02/q05/q07/q58).
    * Overflow contract (ANSI throws loudly): terms ≤ 10^(5+d) hold
    * ~9·10^(12−d) rows per group. */
  def sumExact(c: Column, decimals: Int): Column = {
    require(decimals >= 0 && decimals <= 9, s"unsupported decimals $decimals")
    val p = math.pow(10.0, decimals.toDouble)
    sum(round(c * lit(p)).cast("long")).cast("double") / lit(p)
  }

  /** ORDER-EXACT decimal mean — [[sumExact]] divided by the group count
    * in one fixed dag (`Σcents / (n·10^d)`), replacing `avg(float)`
    * whose running sum carries the same merge-order freedom. */
  def avgExact(c: Column, decimals: Int): Column = {
    require(decimals >= 0 && decimals <= 9, s"unsupported decimals $decimals")
    val p = math.pow(10.0, decimals.toDouble)
    sum(round(c * lit(p)).cast("long")).cast("double") /
      (count(c) * lit(p))
  }

  /** `round(c, scale)` computed as DuckDB computes it (scaled-double). */
  def portable(c: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 9, s"unsupported rounding scale $scale")
    recording.value.foreach(_.add(scale))
    if (bypassScale.value.contains(scale)) return c
    val p = math.pow(10.0, scale.toDouble)
    round(c * lit(p)) / lit(p)
  }
}
