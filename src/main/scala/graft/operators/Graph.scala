package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph centrality for corpus curation (north-star extension):
  * crawl-frontier prioritization weights pages by link-graph authority —
  * the Common Crawl pipelines publish exactly this family of per-domain
  * centrality signal alongside the crawl, and a training-data build uses
  * it to weight or gate sources. Sibling of [[Dedup.connectedComponents]]
  * (the other iterative graph operator in the library).
  */
object Graph {

  /** Weighted damped PageRank over an edge list (src, dst, w), fixed
    * iteration count: r₀ = 1/n, then
    * `r(v) ← (1−d)/n + d · Σ_{u→v} r(u) · w(u,v)/outw(u)`.
    *
    * Semantics notes, pinned for the oracle: multi-edges fold into edge
    * weights (the caller aggregates); nodes with no out-edges leak their
    * damped mass (the simplified formulation — no dangling
    * redistribution), and every node receives the teleport share, so
    * in-degree-0 nodes sit at exactly `(1−d)/n`.
    *
    * Shape: the transition table `p = w/outw` and the node set are
    * computed once and persisted (they feed every iteration); each
    * iteration is one equi-join rank×transition + one aggregate on the
    * destination — the standard distributed PageRank step, O(iters)
    * shuffles total. `n` is a driver scalar (one count of the node set —
    * bounded by design, like the CC convergence checks). Iteration count
    * is FIXED, not convergence-driven, so the result is oracle-exact;
    * long chains at production scale should checkpoint every ~10 rounds
    * exactly like [[Dedup.connectedComponents]] does per round. Returns
    * (node, rank). */
  def weightedPageRank(
      edges: DataFrame, iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    val outw = e.groupBy("src").agg(sum("w").as("outw"))
    // Hash-partitioned + sorted on the per-iteration join key (r20):
    // every iteration joins p on src against the rank table, and with
    // statistics unknown on the iterated side the planner sort-merge
    // joins — re-shuffling and re-sorting the persisted transition
    // table each round. Caching it already partitioned/sorted by src
    // makes the cached outputPartitioning/outputOrdering satisfy the
    // join, so per iteration only the rank table moves.
    val p = e.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("outw")).as("p"))
      .repartition(col("src")).sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    require(n > 0, "weightedPageRank: empty graph")
    var r = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iters) {
      val inflow = p.join(r, p("src") === r("node"))
        .select(col("dst").as("node"), (col("p") * col("rank")).as("c"))
        .groupBy("node").agg(sum("c").as("inflow"))
      r = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank"))
      // long chains (iters ≫ the gated 3–4) adopt CC's lineage-truncation
      // discipline: a LAZY localCheckpoint every N rounds caps plan depth
      // at N iterations without forcing extra jobs mid-loop. Off by
      // default — at fixed small iters the untruncated plan is cheaper.
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        r = r.localCheckpoint(eager = false)
    }
    // force before releasing the cached inputs the lineage references
    val out = graft.Materialize(r)
    p.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Weighted HITS (hubs & authorities), the query-dependent complement
    * of [[weightedPageRank]]: a good HUB points at good authorities, a
    * good AUTHORITY is pointed at by good hubs. Fixed iterations of the
    * L1-normalized power step, h₀ = 1/n:
    * `a(v) ← Σ_{u→v} w·h(u), a ← a/Σa; h(u) ← Σ_{u→v} w·a(v), h ← h/Σh`.
    * L1 (sum) normalization rather than Kleinberg's L2 keeps every
    * intermediate a plain sum-and-divide (no sqrt), which is what makes
    * the fixed-iteration result oracle-exact; the induced RANKING is
    * identical (normalization is a positive scalar either way).
    *
    * Shape: the edge list and node set persist once; each iteration is
    * two join+aggregate passes (one per direction) plus two 1-row
    * normalization aggregates that ride back in as broadcast cross
    * joins — O(iters) shuffles, nothing corpus-sized through the driver.
    *
    * The iteration carries the SPARSE score tables (only nodes with a
    * non-zero raw sum) instead of re-joining onto the full node set
    * every half-step: a node absent from the sparse table holds score
    * exactly 0, and a 0 score contributes exact-0.0 terms to the next
    * direction's sums and to the L1 normalizer, so dropping those rows
    * changes nothing (all scores are non-negative — adding +0.0 terms is
    * an IEEE identity). That removes two joins per iteration vs the
    * dense form (round-9 plan audit: 8 dispatch-floor jobs at the gated
    * iters=2). Nodes with no in-edges surface authority exactly 0
    * (likewise hubs for no out-edges) via one final left-join+coalesce
    * onto the node set. Returns (node, hub, auth). */
  def hits(edges: DataFrame, iters: Int, checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // Two cached copies of the edge list, one per iteration join key
    // (r20, the weightedPageRank discipline): the forward half-step
    // joins edges on src, the backward one on dst, every iteration —
    // pre-partitioned+sorted caches turn both from per-iteration
    // sort-merge re-shuffles of the edge volume into cache-local joins
    // where only the score tables move.
    val e0 = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    val eSrc = e0.repartition(col("src")).sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eDst = e0.repartition(col("dst")).sortWithinPartitions("dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = eSrc.select(col("src").as("node"))
      .union(eSrc.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    require(n > 0, "hits: empty graph")
    // h starts DENSE (every node at 1/n); thereafter both tables stay
    // sparse until the final output join
    var h = nodes.select(col("node"), lit(1.0 / n).as("hub"))
    var a: DataFrame = null
    for (i <- 1 to iters) {
      val araw = eSrc.join(h, eSrc("src") === h("node"))
        .select(col("dst").as("node"), (col("w") * col("hub")).as("c"))
        .groupBy("node").agg(sum("c").as("raw"))
      a = araw.crossJoin(broadcast(araw.agg(sum("raw").as("s"))))
        .select(col("node"), (col("raw") / col("s")).as("auth"))
      val hraw = eDst.join(a, eDst("dst") === a("node"))
        .select(col("src").as("node"), (col("w") * col("auth")).as("c"))
        .groupBy("node").agg(sum("c").as("raw"))
      h = hraw.crossJoin(broadcast(hraw.agg(sum("raw").as("s"))))
        .select(col("node"), (col("raw") / col("s")).as("hub"))
      // same opt-in lineage truncation as [[weightedPageRank]]: lazy
      // localCheckpoint keeps a 50-iteration chain's plan depth bounded
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters) {
        a = a.localCheckpoint(eager = false)
        h = h.localCheckpoint(eager = false)
      }
    }
    val out = graft.Materialize(nodes
      .join(h, Seq("node"), "left")
      .join(a, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth")))
    eSrc.unpersist(blocking = false)
    eDst.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }
}
