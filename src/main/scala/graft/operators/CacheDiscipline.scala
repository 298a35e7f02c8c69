package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Eager materialize-then-release cache discipline (r21, VERDICT r20
  * item 4): an operator that persists a corpus-sized intermediate (an
  * exploded line/shingle/token table, a scored input chain) must not
  * leave that cache pinned after it returns — in a long-lived session
  * calling operators repeatedly on different inputs, each call would
  * otherwise pin a cache sized like an exploded corpus until memory or
  * disk pressure evicts it (guide §5's caching rule: unpersist when
  * done).
  *
  * The discipline — [[Graph]].hits' shape, factored out so every
  * operator-level persist follows it: [[hold]] each intermediate,
  * [[graft.Materialize]] the RESULT (the one execution that fills every
  * intermediate cache), then release the intermediates. The operator
  * leaves no CacheManager entry: its result is a lineage-free leaf that
  * pins no build plan, freed once the caller drops it or calls
  * `Materialize.release`. CacheLifecycleSpec pins the contract. An
  * operator releases only caches it created: a frame the caller already
  * persisted, or a live leaf, is used as it is.
  *
  * Measured cost: 26–88 ms per affected leg (~3–11%, interleaved
  * same-session A/B at sf0.1, best-of-4) — one extra action + the result
  * checkpoint write — against unbounded cache residency without it.
  */
private[operators] object CacheDiscipline {

  /** `df`, live, and whether this hold created its storage. */
  final class Held private[CacheDiscipline] (val df: DataFrame, val created: Boolean) {
    def release(): Unit = if (created) graft.Materialize.release(df)
  }

  /** `df` persisted, unless it is already live: then not owned. */
  def hold(df: DataFrame): Held =
    if (graft.Materialize.isLive(df)) new Held(df, created = false)
    else new Held(df.persist(StorageLevel.MEMORY_AND_DISK), created = true)

  /** Materialize `result`, then release `intermediates`. */
  def materializedHeld(result: DataFrame, intermediates: Held*): Held = {
    val out = graft.Materialize(result)
    intermediates.foreach(_.release())
    new Held(out, created = out ne result)
  }

  def materialized(result: DataFrame, intermediates: Held*): DataFrame =
    materializedHeld(result, intermediates: _*).df
}
