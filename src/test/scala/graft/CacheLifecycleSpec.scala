package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._

/** r21 cache-lifecycle gate (VERDICT r20 item 4): operators that persist
  * corpus-scale intermediates (exploded line/shingle/token tables, scored
  * input chains, distinct-value histograms) must RELEASE those caches
  * before returning — the [[CacheDiscipline.materialized]] contract:
  * after an operator call, `spark.sharedState.cacheManager` holds no
  * entry at all — the operator's own (bounded) result is a
  * [[Materialize]]d leaf — and releasing that result leaves the manager
  * exactly as found. Without this, a long-lived session calling these
  * operators repeatedly pins one exploded-corpus-sized cache per call
  * until memory/disk pressure evicts it (guide §5). */
class CacheLifecycleSpec extends SparkSpec {

  private def cm = spark.sharedState.cacheManager

  /** Runs `op`, asserts the operator returned its result materialized
    * as a single leaf and left no cache entry, then releases the result
    * and asserts the manager is still empty. */
  private def assertOnlyResultCached(label: String)(op: => DataFrame): Unit = {
    cm.clearCache()
    Tables.clearPairCache()
    val out = op
    assert(Materialize.isLive(out) && out.queryExecution.logical.children.isEmpty,
      s"$label: result must come back materialized, as a single leaf")
    assert(cm.isEmpty,
      s"$label: the operator must leave no cache entry — an intermediate " +
        "cache leaked, or the result pins its build plan")
    Materialize.release(out, blocking = true)
    assert(cm.isEmpty,
      s"$label: cacheManager must hold nothing once the result is " +
        "released — an intermediate cache leaked")
  }

  private lazy val docs = sf0001.documents

  test("quantileGate releases the scored input chain") {
    assertOnlyResultCached("quantileGate") {
      Cleaning.quantileGate(
        docs.select(col("doc_id"), length(col("text")).cast("double").as("s")),
        col("s"), 0.75)
    }
  }

  test("ccnetBuckets releases the scored input chain") {
    assertOnlyResultCached("ccnetBuckets") {
      Cleaning.ccnetBuckets(
        docs.select(col("doc_id"), col("lang"),
          length(col("text")).cast("double").as("s")),
        col("lang"), col("s"))
    }
  }

  test("pmiCollocations releases both vocab count caches") {
    assertOnlyResultCached("pmiCollocations") {
      TextAnalysis.pmiCollocations(docs, col("text"), minCount = 3L)
    }
  }

  test("bm25TopK releases the doc-length cache") {
    import spark.implicits._
    val probes = Seq((0L, "the"), (1L, "data")).toDF("qid", "term")
    assertOnlyResultCached("bm25TopK") {
      TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"), probes, k = 3)
    }
  }

  test("exactSubstringSelfRuns releases the exploded shingle cache (both forms)") {
    assertOnlyResultCached("exactSubstringSelfRuns") {
      Dedup.exactSubstringSelfRuns(docs, col("doc_id"), col("text"), minRun = 8)
    }
    assertOnlyResultCached("exactSubstringSelfRuns dfCap") {
      Dedup.exactSubstringSelfRuns(docs, col("doc_id"), col("text"),
        minRun = 8, dfCap = Some(50L))
    }
  }

  test("dedupLinesAcrossCorpus(hotKeySafe) releases the exploded line cache") {
    assertOnlyResultCached("dedupLinesAcrossCorpus hotKeySafe") {
      Dedup.dedupLinesAcrossCorpus(docs, col("doc_id"), col("text"),
        sep = " ", hotKeySafe = true)
    }
  }

  test("removeBoilerplateLines releases the exploded line cache") {
    assertOnlyResultCached("removeBoilerplateLines") {
      Dedup.removeBoilerplateLines(docs, col("doc_id"), col("text"),
        col("source"), minDocs = 2L, sep = " ")
    }
  }

  test("removeSubstringRuns releases the span-coverage cache") {
    val evalDocs = docs.filter(col("doc_id") % 7 === 0)
    val trainDocs = docs.filter(col("doc_id") % 7 =!= 0)
    assertOnlyResultCached("removeSubstringRuns") {
      Dedup.removeSubstringRuns(trainDocs, col("doc_id"), col("text"),
        Dedup.exactSubstringRuns(trainDocs, evalDocs, col("doc_id"),
          col("text"), minRun = 8))
    }
  }

  test("ksDriftBinned (exact edges) releases the gv histogram and the edge frame") {
    assertOnlyResultCached("ksDriftBinned exact") {
      TimeSeries.ksDriftBinned(
        sf0001.lineitem.select(col("l_returnflag").as("g"),
          col("l_extendedprice").cast("double").as("v")),
        col("g"), col("v"), bins = 8)
    }
  }

  test("quantileEdgesWeighted releases the ranked distinct-value cache") {
    assertOnlyResultCached("quantileEdgesWeighted") {
      ExactQuantiles.quantileEdges(
        sf0001.lineitem.select(col("l_extendedprice")),
        col("l_extendedprice"), Seq(0.25, 0.5, 0.75), "e")
    }
  }

  /** Runs `op` over `input` that the CALLER persisted first, and asserts
    * the caller's cache survives the operator (ownership: an operator
    * releases only caches it created). */
  private def assertCallerCacheKept(label: String, input: DataFrame)(
      op: DataFrame => DataFrame): Unit = {
    cm.clearCache()
    Tables.clearPairCache()
    val owned = input.persist()
    Materialize.release(op(owned), blocking = true)
    assert(owned.storageLevel.useMemory || owned.storageLevel.useDisk,
      s"$label unpersisted a cache its caller owns")
    owned.unpersist(blocking = true)
    assert(cm.isEmpty, s"$label: only the caller's cache should have remained")
  }

  test("quantileGate keeps a caller-persisted input cached") {
    assertCallerCacheKept("quantileGate",
      docs.select(col("doc_id"), length(col("text")).cast("double").as("s"))) {
      Cleaning.quantileGate(_, col("s"), 0.75)
    }
  }

  test("ccnetBuckets keeps a caller-persisted input cached") {
    assertCallerCacheKept("ccnetBuckets",
      docs.select(col("doc_id"), col("lang"),
        length(col("text")).cast("double").as("s"))) {
      Cleaning.ccnetBuckets(_, col("lang"), col("s"))
    }
  }

  test("materialized operators keep a caller-persisted input cached (ngramJaccard)") {
    assertCallerCacheKept("ngramJaccard",
      Dedup.shingleSet(docs, col("doc_id"), col("text"), 3)) {
      Dedup.ngramJaccard(_, 0.5)
    }
  }

  test("the capped n-gram join keeps a caller-persisted input cached (binding dfCap)") {
    val sh = Dedup.shingleSet(docs, col("doc_id"), col("text"), 3)
    assert(!sh.groupBy("w").count().filter(col("count") > 2).isEmpty,
      "dfCap = 2 must bind on this corpus, or the stop-set branch is not exercised")
    assertCallerCacheKept("ngramContainment capped", sh) {
      Dedup.ngramContainment(_, 0.8, Some(2L))
    }
  }
}
