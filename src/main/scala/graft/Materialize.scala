package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one way an eager result is stored: a local checkpoint, a leaf over
  * the stored rows, so the plan that built it (its broadcasts, its RDD
  * lineage) is freed by the ContextCleaner instead of being pinned by the
  * CacheManager. The trade-offs: it is lost with its executor (argued at
  * `Queries.sortedLarge`), and it stores deserialized rows, not the
  * compressed columnar batches of a cached plan, with no column pruning on
  * read — at sf0.1 the memos and operator results take 8.9 MB of storage
  * memory against 1.1 MB cached (the fp32 memo 8.3 against 0.8 MB), and
  * that grows with the corpus. `catalog.clearCache()` does not touch it;
  * [[release]] does. */
object Materialize {

  def apply(df: DataFrame): DataFrame =
    if (liveLeaf(df)) df else df.localCheckpoint(eager = true)

  def isLive(ds: Dataset[_]): Boolean = ds.storageLevel != StorageLevel.NONE || liveLeaf(ds)

  def release(ds: Dataset[_], blocking: Boolean = false): Unit = {
    ds.unpersist(blocking)
    ds.queryExecution.logical match { case l: LogicalRDD => l.rdd.unpersist(blocking); case _ => }
  }

  /** A checkpoint whose rows are still stored, or driver-side rows (a
    * `Seq.toDF` projection optimizes to a `LocalRelation`). */
  private def liveLeaf(ds: Dataset[_]): Boolean = ds.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.getStorageLevel != StorageLevel.NONE
    case p => p.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
      ds.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
  }
}
