package graft.operators

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

import graft.{Materialize, SparkEntry, Tables}

/** Materialized results pin no plan: the shared memos and the operator
  * results the llm-pipeline legs leave behind are leaves over stored
  * rows, so nothing reaches their build plans (and the broadcast
  * relations those hold) through the CacheManager. */
class MaterializeSpec extends graft.SparkSpec {

  test("no memo or operator result pins a plan: the CacheManager stays empty") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    Tables.clearPairCache()
    val memos = Map(
      "pairs" -> sf0001.documentNearDupPairs,
      "components" -> sf0001.documentNearDupComponents,
      "centroids8" -> sf0001.embeddingCentroids8,
      "fp32" -> sf0001.hashedFeaturePairs32,
      "bigramCe" -> sf0001.bigramCeScores)
    for (name <- Seq("q137_ccnet_buckets", "q177_hybrid_rrf"))
      assert(SparkEntry.queries(name)(spark, sf0001.dir).count() > 0, name)
    assert(cm.isEmpty, s"memo builds and operator results must cache nothing:\n$cm")
    memos.foreach { case (kind, m) =>
      val leaf = m.queryExecution.optimizedPlan
      assert(leaf.isInstanceOf[LogicalRDD] || leaf.isInstanceOf[LocalRelation],
        s"$kind: the memo must be a leaf over stored rows, not its build plan:\n$leaf")
      assert(Materialize.isLive(m), s"$kind: the memo's rows must still be stored")
      val held = CacheDiscipline.hold(m)
      assert(!held.created && (held.df eq m), s"$kind: holding a live leaf must create nothing")
      held.release()
      assert(Materialize.isLive(m) && cm.isEmpty,
        s"$kind: releasing a hold that created nothing must leave the memo stored")
    }
  }
}
