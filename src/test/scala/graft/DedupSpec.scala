package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // doc 1 == doc 2 (exact dup); doc 3 is a near-dup of 1 (one token changed);
  // doc 4 shares nothing; doc 5 is a permutation of doc 1's tokens.
  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"),
    (3L, "the quick brown fox jumps over the lazy cat again and again today"),
    (4L, "completely different content with no shared trigram shingles here now"),
    (5L, "today again and again dog lazy the over jumps fox brown quick the")
  ).toDF("doc_id", "text")

  test("minhash LSH finds the exact-dup pair with estimate 1.0") {
    val pairs = Dedup.minHashNearDups(corpus, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)))
  }

  test("incremental near-dups over a split corpus composes to the full-corpus result") {
    // canonical daily-ingest shape: corpus = docs 1-3, new batch = docs 4-5
    // (doc 5 permutes doc 1's tokens — a cross-split candidate; doc 4 shares
    // nothing), so both the new×corpus and new×new paths are exercised.
    val corpus0 = corpus.filter(col("doc_id") <= 3L)
    val batch = corpus.filter(col("doc_id") > 3L)
    val corpusSigs = Dedup.minHashSignaturesNative(
      corpus0, col("doc_id"), col("text"), shingleN = 3, numHashes = 8)

    val (incPairs, updatedSigs) = Dedup.incrementalNearDups(
      batch, col("doc_id"), col("text"), corpusSigs)
    val inc = incPairs.as[(Long, Long, Double)].collect().toSet

    val full = Dedup.withPairs(Dedup.minHashNearDups(corpus, col("doc_id"), col("text")))(
      _.as[(Long, Long, Double)].collect().toSet)
    val priorOnly = Dedup.withPairs(Dedup.minHashNearDups(corpus0, col("doc_id"), col("text")))(
      _.as[(Long, Long, Double)].collect().toSet)

    // exact composition: prior corpus-only pairs + incremental = full run
    assert(priorOnly.union(inc) == full,
      s"composition broke: prior=$priorOnly inc=$inc full=$full")
    // the incremental part is exactly the full pairs touching a new doc
    assert(inc == full.filter(p => p._1 > 3L || p._2 > 3L),
      s"incremental pairs must be the new-doc slice of the full result: $inc")
    // updated signature table = signatures of the whole corpus
    val want = Dedup.minHashSignaturesNative(
        corpus, col("doc_id"), col("text"), shingleN = 3, numHashes = 8)
      .as[(Long, Seq[String])].collect().toMap
    val got = updatedSigs.as[(Long, Seq[String])].collect().toMap
    assert(got == want, "updatedSignatures must cover corpus + batch")
    incPairs.unpersist()
  }

  test("incremental near-dups: a re-ingested id resolves to its NEW signature") {
    // doc 3 is re-crawled: same id arrives in the batch with doc 1's text
    // (old corpus text was the one-token-changed near-dup). The new
    // signature must win — one signature row for id 3 in the updated
    // table, and the (1,3) estimate must be the NEW text's 1.0, not the
    // old 0.x, and not a conflicting-est duplicate pair.
    val corpus0 = corpus.filter(col("doc_id") <= 3L)
    val corpusSigs = Dedup.minHashSignaturesNative(
      corpus0, col("doc_id"), col("text"), shingleN = 3, numHashes = 8)
    val batch = Seq(
      (3L, "the quick brown fox jumps over the lazy dog again and again today")
    ).toDF("doc_id", "text")
    val (pairs, updatedSigs) = Dedup.incrementalNearDups(
      batch, col("doc_id"), col("text"), corpusSigs)
    val got = pairs.as[(Long, Long, Double)].collect()
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length,
      s"re-ingest must not fan candidate pairs into duplicates: ${got.toSeq}")
    val est13 = got.collect { case (1L, 3L, e) => e }
    assert(est13.toSeq == Seq(1.0),
      s"estimate must use the re-ingested signature (exact copy of doc 1): ${got.toSeq}")
    // updated table: one row per id, id 3 carrying the batch signature
    val sigRows = updatedSigs.as[(Long, Seq[String])].collect()
    assert(sigRows.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L), s"${sigRows.toSeq}")
    val want3 = Dedup.minHashSignaturesNative(
      batch, col("doc_id"), col("text"), shingleN = 3, numHashes = 8)
      .as[(Long, Seq[String])].head()._2
    assert(sigRows.toMap.apply(3L) == want3, "id 3 must carry the NEW signature")
    pairs.unpersist()
  }

  test("incremental near-dups: an intra-batch duplicate pair is found (new x new path)") {
    // both twins arrive in the SAME batch — nothing in the corpus matches
    val corpus0 = corpus.filter(col("doc_id") === 4L)
    val batch = corpus.filter(col("doc_id") === 1L || col("doc_id") === 2L)
    val sigs = Dedup.minHashSignaturesNative(
      corpus0, col("doc_id"), col("text"), shingleN = 3, numHashes = 8)
    val (pairs, _) = Dedup.incrementalNearDups(batch, col("doc_id"), col("text"), sigs)
    val got = pairs.as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 1.0,
      s"intra-batch exact dup must be found: $got")
    pairs.unpersist()
  }

  test("banded simhash equals brute-force N^2 on the corpus") {
    val hashes = Dedup.simHash(Dedup.shingleSet(corpus, col("doc_id"), col("text"), 3))
    val banded = Dedup.simHashNearDups(hashes, maxDist = 3)
      .as[(Long, Long, Long)].collect().toSet
    val h = hashes.as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- h.keys; b <- h.keys if a < b
      d = java.lang.Long.bitCount(h(a) ^ h(b)) if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(banded == brute)
    assert(banded.exists { case (a, b, d) => a == 1L && b == 2L && d == 0L })
  }

  test("ngram jaccard: exact dup = 1.0, near dup in (0,1), disjoint absent") {
    val j = Dedup.ngramJaccard(
        Dedup.shingleSet(corpus, col("doc_id"), col("text"), 3), threshold = 0.0)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.0 && j((1L, 3L)) < 1.0)
    assert(!j.contains((1L, 4L)))
  }

  test("near-dup operators release their intermediate caches (only the result stays)") {
    // the CacheManager dedups identical plans, so earlier tests' cached
    // pair tables over the same corpus would absorb one of this test's
    // three persists — start from a clean cache
    spark.sharedState.cacheManager.clearCache()
    // getPersistentRDDs is CONTEXT-global and sbt runs suites
    // concurrently in the shared JVM, so raw counts race against other
    // suites' persists (flaked once in round 12 when new suites shifted
    // the interleave). Assert on the DELTA vs a post-clear snapshot,
    // with a short settle loop for foreign persists that are transiting
    // through our window.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def added: Set[Int] =
      (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
    def settle(want: Int): Set[Int] = {
      var d = added
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (d.size != want && System.nanoTime() < deadline) {
        Thread.sleep(200); d = added
      }
      d
    }
    val r1 = Dedup.minHashNearDups(corpus, col("doc_id"), col("text"))
    val r2 = Dedup.simHashNearDups(
      Dedup.simHash(Dedup.shingleSet(corpus, col("doc_id"), col("text"), 3)))
    val r3 = Dedup.ngramJaccard(
      Dedup.shingleSet(corpus, col("doc_id"), col("text"), 3), threshold = 0.5)
    // each call persists exactly one thing: its materialized result. The
    // signature/shingle/hash intermediates must be gone — a long-lived
    // session looping over corpora must not accumulate lineage caches.
    val cached = settle(3)
    assert(cached.size == 3, s"expected 3 new cached results, found $cached")
    Seq(r1, r2, r3).foreach(Materialize.release(_, blocking = true))
    assert(settle(0).isEmpty,
      "unpersisting the returned handles must release everything")
    // the loan form owns the cleanup: nothing stays cached after withPairs
    val n = Dedup.withPairs(
      Dedup.minHashNearDups(corpus, col("doc_id"), col("text")))(_.count())
    assert(n >= 1)
    assert(settle(0).isEmpty,
      "withPairs must unpersist the pair table it loaned out")
  }

  test("connectedComponents: chains, cliques, singleton pairs, determinism") {
    // component A: a 6-vertex CHAIN (10-11-12-13-14-15) — needs several
    // propagation rounds, so this exercises the iteration, not just round 1;
    // component B: a triangle clique; component C: one isolated pair.
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)
    ).toDF("da", "db")
    val got = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert((10L to 15L).forall(got(_) == 10L), s"chain must collapse to 10: $got")
    assert((20L to 22L).forall(got(_) == 20L))
    assert(got(30L) == 30L && got(31L) == 30L)
    assert(got.size == 11, "every vertex in the pair table gets a label, nothing else")
  }

  test("connectedComponents matches brute-force union-find on a derived graph") {
    // deterministic pseudo-random graph: edge (i, j) when j = (i*7) % 40 differs
    val es = (0L until 40L).map(i => (i, (i * 7) % 40)).filter { case (a, b) => a != b }
    val got = Dedup.connectedComponents(es.toDF("da", "db")).as[(Long, Long)].collect().toMap
    // union-find reference
    val parent = scala.collection.mutable.Map((0L until 40L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    es.foreach { case (a, b) => parent(find(a)) = find(b) }
    val reps = (0L until 40L).groupBy(find).flatMap { case (_, m) => m.map(_ -> m.min) }
    val verts = es.flatMap(e => Seq(e._1, e._2)).toSet
    assert(got == reps.view.filterKeys(verts).toMap)
  }

  test("df-capped jaccard: identical to uncapped when no shingle exceeds the cap") {
    def pairsOf(df: org.apache.spark.sql.DataFrame, t: Double, cap: Long) = {
      val sh = Dedup.shingleSet(df, col("doc_id"), col("text"), 3)
      val full = Dedup.withPairs(Dedup.ngramJaccard(sh, t))(
        _.as[(Long, Long, Double)].collect().toSet)
      val capped = Dedup.withPairs(Dedup.ngramJaccard(sh, t, Some(cap)))(
        _.as[(Long, Long, Double)].collect().toSet)
      (full, capped)
    }
    // cap above every shingle's df -> exact equivalence (corpus + fixtures)
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val (full, capped) = pairsOf(corpus, t, cap = 1000L)
      assert(capped == full, s"threshold $t diverged with a non-binding cap")
    }
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val (full, capped) = pairsOf(docs, 0.5, cap = 100000L)
    assert(full.nonEmpty && capped == full, "fixture divergence with non-binding cap")
  }

  test("df-capped jaccard: binding cap keeps exact scores, misses only all-stop-shingle pairs") {
    // docs 1/2 share ONLY the ubiquitous shingle "a b c" (df=4 > cap);
    // docs 3/4 share it too but ALSO share the rare "x y z" (df=2 <= cap)
    val skewed = Seq(
      (1L, "a b c p q r s"),
      (2L, "a b c t u v w"),
      (3L, "a b c x y z h"),
      (4L, "a b c x y z k")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingleSet(skewed, col("doc_id"), col("text"), 3)
    val full = Dedup.withPairs(Dedup.ngramJaccard(sh, 0.05))(
      _.as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap)
    val capped = Dedup.withPairs(Dedup.ngramJaccard(sh, 0.05, dfCap = Some(3L)))(
      _.as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap)
    // (3,4) survives: candidate from the rare shared shingle, and its
    // Jaccard is EXACT (the stop shingle still counts in the recount)
    assert(capped.contains((3L, 4L)) && capped((3L, 4L)) == full((3L, 4L)))
    // (1,2) is the documented miss: every shared shingle is over-cap
    assert(full.contains((1L, 2L)) && !capped.contains((1L, 2L)))
    // nothing else appears or changes score
    assert(capped.forall { case (k, v) => full(k) == v })
  }

  test("df-capped containment: bit-identical to uncapped when no shingle exceeds the cap") {
    def pairsOf(df: org.apache.spark.sql.DataFrame, t: Double, cap: Long) = {
      val sh = Dedup.shingleSet(df, col("doc_id"), col("text"), 3)
      val cols = Seq("da", "db", "i", "na", "nb", "cab", "cba").map(col)
      val full = Dedup.withPairs(Dedup.ngramContainment(sh, t))(
        _.select(cols: _*).as[(Long, Long, Long, Long, Long, Double, Double)]
          .collect().toSet)
      val capped = Dedup.withPairs(Dedup.ngramContainment(sh, t, Some(cap)))(
        _.select(cols: _*).as[(Long, Long, Long, Long, Long, Double, Double)]
          .collect().toSet)
      (full, capped)
    }
    for (t <- Seq(0.3, 0.8)) {
      val (full, capped) = pairsOf(corpus, t, cap = 1000L)
      assert(capped == full, s"threshold $t diverged with a non-binding cap")
    }
    // q107's gated configuration on the fixture corpus: max trigram df is
    // single-digit at sf0.001, so cap=50 is non-binding and the gated
    // rows are exactly the uncapped form's
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val (full, capped) = pairsOf(docs, 0.8, cap = 50L)
    assert(full.nonEmpty && capped == full, "fixture divergence with non-binding cap")
  }

  test("df-capped containment: binding cap keeps exact split-count ratios, misses only all-stop pairs") {
    // docs 1/2 share ONLY the ubiquitous "a b c" (df=4 > cap=3); docs 3/4
    // share it AND the rare "x y z" (df=2): the rare shingle nominates
    // the pair, and the stop shingle still counts in i via the i_stop leg
    val skewed = Seq(
      (1L, "a b c p q r s"),
      (2L, "a b c t u v w"),
      (3L, "a b c x y z"),
      (4L, "a b c x y z")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingleSet(skewed, col("doc_id"), col("text"), 3)
    val full = Dedup.withPairs(Dedup.ngramContainment(sh, 0.05))(
      _.select("da", "db", "i", "cab", "cba")
        .as[(Long, Long, Long, Double, Double)].collect()
        .map(p => (p._1, p._2) -> ((p._3, p._4, p._5))).toMap)
    val capped = Dedup.withPairs(Dedup.ngramContainment(sh, 0.05, dfCap = Some(3L)))(
      _.select("da", "db", "i", "cab", "cba")
        .as[(Long, Long, Long, Double, Double)].collect()
        .map(p => (p._1, p._2) -> ((p._3, p._4, p._5))).toMap)
    // (3,4) survives with the EXACT intersection (i counts "a b c" too)
    assert(capped.contains((3L, 4L)) && capped((3L, 4L)) == full((3L, 4L)))
    assert(capped((3L, 4L))._1 == 4L, s"i must count the stop shingle: ${capped((3L, 4L))}")
    // (1,2) is the documented miss: its only shared shingle is over-cap
    assert(full.contains((1L, 2L)) && !capped.contains((1L, 2L)))
    assert(capped.forall { case (k, v) => full(k) == v })
  }

  test("both n-gram measures match a driver-side brute force over the shingle sets (capped and uncapped)") {
    // an independent reference for the one intersection core: exact
    // i/na/nb, both measures, and the pair set, from collected sets. With
    // a cap, a pair is found iff some shared shingle has df <= cap.
    // "a b c" is in every doc (df 4 > cap 3): (1,2) and the short docs'
    // pairs with 3 and 4 share only it, and are dropped under the cap
    val skewed = Seq(
      (1L, "a b c p"),
      (2L, "a b c t"),
      (3L, "a b c x y z h"),
      (4L, "a b c x y z k")
    ).toDF("doc_id", "text")
    var capDropped = false
    for (docs <- Seq(corpus, skewed); t <- Seq(0.3, 0.8); cap <- Seq(None, Some(3L))) {
      val sh = Dedup.shingleSet(docs, col("doc_id"), col("text"), 3)
      val sets = sh.as[(Long, String)].collect().groupBy(_._1)
        .map { case (d, rows) => d -> rows.map(_._2).toSet }
      val df = sets.values.toSeq.flatten.groupBy(identity).map { case (w, ws) => w -> ws.size }
      val sharing = for {
        da <- sets.keys.toSeq; db <- sets.keys.toSeq if da < db
        shared = sets(da) intersect sets(db) if shared.nonEmpty
      } yield (da, db, shared)
      val nominated = sharing
        .filter { case (_, _, shared) => shared.exists(w => cap.forall(df(w) <= _)) }
        .map { case (da, db, shared) =>
          (da, db, shared.size.toLong, sets(da).size.toLong, sets(db).size.toLong) }
      capDropped ||= nominated.size < sharing.size
      val wantJacc = nominated.map { case (da, db, i, na, nb) =>
        (da, db, i * 1.0 / (na + nb - i)) }.filter(_._3 >= t).toSet
      val wantCont = nominated.map { case (da, db, i, na, nb) =>
        (da, db, i, na, nb, i * 1.0 / na, i * 1.0 / nb) }
        .filter(r => math.max(r._6, r._7) >= t).toSet
      val gotJacc = Dedup.withPairs(Dedup.ngramJaccard(sh, t, cap))(
        _.as[(Long, Long, Double)].collect().toSet)
      val gotCont = Dedup.withPairs(Dedup.ngramContainment(sh, t, cap))(
        _.as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSet)
      val at = s"threshold $t, cap $cap, ${sets.size} docs"
      assert(gotJacc == wantJacc, s"jaccard diverged at $at")
      assert(gotCont == wantCont, s"containment diverged at $at")
    }
    assert(capDropped, "the cap must drop some all-stop-shingle pair")
  }

  test("lshTuning: areas match scalar quadrature over lshCollisionProb; argmin is sane") {
    val n = 24
    val t = 0.7
    val grid = 200
    val rows = Dedup.lshTuning(spark, n, t, grid)
      .orderBy("b", "r").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
    assert(rows.map(x => (x._1, x._2)).toSeq ==
      Seq((1, 24), (2, 12), (3, 8), (4, 6), (6, 4), (8, 3), (12, 2), (24, 1)),
      "one row per b·r = 24 factorization")
    // each area equals the driver-side midpoint quadrature of the same
    // closed-form curve (lshCollisionProb is the audited scalar)
    rows.foreach { case (b, r, fp, fn, err, s50, _) =>
      val ss = (0 until grid).map(i => (i + 0.5) / grid)
      val fpExp = ss.filter(_ < t).map(s => Dedup.lshCollisionProb(s, b, r)).sum / grid
      val fnExp = ss.filter(_ >= t).map(s => 1.0 - Dedup.lshCollisionProb(s, b, r)).sum / grid
      assert(math.abs(fp - fpExp) < 1e-9, s"($b,$r) fp $fp vs $fpExp")
      assert(math.abs(fn - fnExp) < 1e-9, s"($b,$r) fn $fn vs $fnExp")
      assert(math.abs(err - (fp + fn)) < 1e-12)
      assert(math.abs(s50 - math.pow(1.0 / b, 1.0 / r)) < 1e-12)
      // the threshold identity: at s50, s^r = 1/b exactly, so the
      // collision probability is 1 - (1 - 1/b)^b (→ 1 - 1/e as b grows)
      val pAtS50 = 1.0 - math.pow(1.0 - 1.0 / b, b)
      assert(math.abs(Dedup.lshCollisionProb(s50, b, r) - pAtS50) < 1e-9,
        s"($b,$r): p(s50) = ${Dedup.lshCollisionProb(s50, b, r)} vs $pAtS50")
    }
    // exactly one chosen; it beats both degenerate bandings, and its
    // S-curve midpoint lands near the requested threshold
    val chosen = rows.filter(_._7)
    assert(chosen.length == 1)
    val (cb, cr, _, _, cerr, cs50, _) = chosen.head
    val errOf = rows.map(x => (x._1, x._2) -> x._5).toMap
    assert(cerr <= errOf((1, n)) && cerr <= errOf((n, 1)),
      s"chosen ($cb,$cr) must beat one-band and one-row banding")
    assert(math.abs(cs50 - t) < 0.2,
      s"chosen midpoint $cs50 should sit near the threshold $t")
    // cross-implementation pin: the r11 driver-side chooser at EQUAL
    // weights lands on the same factorization (different grid size,
    // same landscape — a disagreement means one integral is wrong)
    assert((cb, cr) == Dedup.lshParamsFor(n, t, 1.0, 1.0),
      s"lshTuning chose ($cb,$cr) but lshParamsFor says ${Dedup.lshParamsFor(n, t, 1.0, 1.0)}")
    intercept[IllegalArgumentException](Dedup.lshTuning(spark, 0, t))
    intercept[IllegalArgumentException](Dedup.lshTuning(spark, n, 1.5))
  }

  test("connectedComponents: a 200-vertex chain converges well under maxIter (pointer jumping)") {
    // plain one-hop propagation needs O(diameter)=200 rounds; path halving
    // must close this chain inside the default 25-round budget
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("da", "db")
    val got = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(got.length == 200 && got.forall(_._2 == 0L),
      s"all 200 chain vertices must label to 0, got ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("connectedComponents THROWS rather than returning a wrong labeling at maxIter") {
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("da", "db")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponents with checkpointDir uses reliable checkpoints, same labeling") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val reliable = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(reliable == local)
    assert(reliable == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the reliable path must have actually written checkpoint data
    def anyFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(dir)),
      s"no checkpoint data written under $dir — reliable path not exercised")
    // ...and reclaimed every superseded snapshot: ~2 accumulate per round
    // unless CC deletes them itself (Spark's ContextCleaner won't here);
    // only the final labels snapshot may remain
    def rddDirs(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles).toSeq.flatten.flatMap(c =>
        (if (c.isDirectory && c.getName.startsWith("rdd-")) Seq(c) else Nil) ++
          (if (c.isDirectory) rddDirs(c) else Nil))
    val remaining = rddDirs(new java.io.File(dir))
    assert(remaining.length == 1,
      s"stale checkpoint snapshots not reclaimed: ${remaining.map(_.getName)}")
  }

  test("snapshot reclamation never touches checkpoints CC did not create") {
    // A foreign snapshot sitting in the ACTIVE checkpoint location (the
    // worst case: same SparkContext, same UUID subdir CC will write into)
    // must survive — reclamation tracks the exact paths CC created, it
    // does not police the directory. rdd-999999 outnumbers any real rdd
    // id, so a max-id liveness heuristic would keep IT and delete CC's
    // own live snapshot instead.
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt-foreign").toString
    spark.sparkContext.setCheckpointDir(dir)
    val active = new java.io.File(new java.net.URI(spark.sparkContext.getCheckpointDir.get))
    val foreign = new java.io.File(active, "rdd-999999")
    assert(foreign.mkdirs())
    java.nio.file.Files.writeString(foreign.toPath.resolve("part-00000"), "foreign")

    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val labels = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))

    assert(foreign.isDirectory && new java.io.File(foreign, "part-00000").isFile,
      "foreign checkpoint snapshot was deleted by CC's reclamation")
    // CC still reclaimed its own superseded snapshots: foreign + 1 final
    val snaps = Option(active.listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
    assert(snaps.length == 2,
      s"expected foreign + one final snapshot, got ${snaps.map(_.getName).sorted.toSeq}")
    // ...and reused the already-active UUID subdir instead of minting a
    // new one per call (repeated runs share one location)
    val subdirs = Option(new java.io.File(dir).listFiles).toSeq.flatten.filter(_.isDirectory)
    assert(subdirs.length == 1,
      s"CC minted a fresh UUID subdir despite the active one being inside $dir")
  }

  test("connectedComponentsStars equals the pointer-jumped sibling on mixed graphs") {
    // same shapes as the sibling's tests: chain + clique + isolated pair,
    // then the derived pseudo-random graph — identical (id, rep) output
    val mixed = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)
    ).toDF("da", "db")
    val derived = (0L until 40L).map(i => (i, (i * 7) % 40))
      .filter { case (a, b) => a != b }.toDF("da", "db")
    for (pairs <- Seq(mixed, derived)) {
      val stars = Dedup.connectedComponentsStars(pairs).as[(Long, Long)].collect().toMap
      val jumped = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
      assert(stars == jumped)
    }
    // null endpoints and self-pairs get the same defensive treatment
    val dirty = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), Some(4L)), (Some(2L), Some(5L)))
      .toDF("da", "db")
    val got = Dedup.connectedComponentsStars(dirty).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
    // empty input
    assert(Dedup.connectedComponentsStars(Seq.empty[(Long, Long)].toDF("da", "db")).count() == 0)
  }

  test("crossContamination flags exactly the train docs sharing an n-gram with eval") {
    val docs = Seq(
      // eval doc: the "benchmark answer"
      (100L, "the capital of france is paris and always was"),
      // contaminated: contains the eval 5-gram "the capital of france is"
      (1L, "we know the capital of france is paris indeed"),
      // shares two distinct eval 5-grams
      (2L, "the capital of france is paris and more text"),
      // clean: shares words but no 5-gram run
      (3L, "paris is the capital city of modern france today")
    ).toDF("doc_id", "text")
    val evalDocs = docs.filter(col("doc_id") === 100L)
    val trainDocs = docs.filter(col("doc_id") =!= 100L)
    val got = Dedup.crossContamination(trainDocs, evalDocs, col("doc_id"), col("text"), n = 5)
      .as[(Long, Long)].collect().toMap
    // doc 1: shares "the capital of france is", "capital of france is paris"
    assert(got.contains(1L) && got(1L) == 2L, s"doc 1 overlap: $got")
    // doc 2: those two plus "of france is paris and" => 3
    assert(got(2L) == 3L, s"doc 2 overlap: $got")
    assert(!got.contains(3L), "word overlap without an n-gram run is NOT contamination")
    // an empty eval set flags nothing
    assert(Dedup.crossContamination(
      trainDocs, evalDocs.filter(lit(false)), col("doc_id"), col("text"), 5).count() == 0)
  }

  test("exactSubstringRuns: k-token run included, k-1 excluded, runs maximal") {
    // eval doc tokens: e1..e4 A B C D e5 X Y Z (a 4-token run ABCD and a
    // 3-token run XYZ appear verbatim in train docs below)
    val evalDocs = Seq(
      (100L, "e1 e2 e3 e4 A B C D e5 X Y Z")
    ).toDF("doc_id", "text")
    val trainDocs = Seq(
      // exactly k=4 shared tokens (A B C D) — must be reported, run_len 4
      (1L, "t1 t2 A B C D t3 t4 t5 t6"),
      // exactly k-1=3 shared tokens (X Y Z) — below threshold, absent
      (2L, "t1 t2 X Y Z t3 t4 t5 t6 t7"),
      // a 6-token run (e3 e4 A B C D): ONE maximal row, not 4+4 splits
      (3L, "t1 e3 e4 A B C D t2 t3 t4")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringRuns(
        trainDocs, evalDocs, col("doc_id"), col("text"), minRun = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 100L, 3L, 5L, 4L),  // A@train pos 3 matches A@eval pos 5, 4 tokens
      (3L, 100L, 2L, 3L, 6L)   // e3@train pos 2 matches e3@eval pos 3, 6 tokens
    ), s"got $got")
  }

  test("exactSubstringRuns reports each diagonal's run separately on repeated spans") {
    // the eval span A B C D E appears TWICE in the train doc — two
    // distinct maximal runs on different diagonals, two rows
    val evalDocs = Seq((100L, "A B C D E")).toDF("doc_id", "text")
    val trainDocs = Seq((1L, "A B C D E t1 t2 A B C D E")).toDF("doc_id", "text")
    val got = Dedup.exactSubstringRuns(
        trainDocs, evalDocs, col("doc_id"), col("text"), minRun = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 100L, 1L, 1L, 5L), (1L, 100L, 8L, 1L, 5L)), s"got $got")
  }

  test("removeSubstringRuns: cuts flagged spans, unions overlaps, keeps fully-covered docs") {
    val train = Seq(
      (1L, "t1 A B C D t2"),              // one 4-token run at pos 2
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8"),    // two OVERLAPPING runs: 2..5 and 4..7
      (3L, "v1 v2 v3"),                   // fully covered
      (4L, "w1 w2 w3 w4")                 // no runs — must be ABSENT from output
    ).toDF("doc_id", "text")
    val runs = Seq(
      (1L, 2L, 4L), (2L, 2L, 4L), (2L, 4L, 4L), (3L, 1L, 3L)
    ).toDF("doc_id", "pos_train", "run_len")
    val got = Dedup.removeSubstringRuns(train, col("doc_id"), col("text"), runs)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 6L, 4L, "t1 t2"),
      (2L, 8L, 6L, "u1 u8"),   // union of 2..5 and 4..7 = 2..7, not 8 removed
      (3L, 3L, 3L, "")         // fully covered stays, empty survivor text
    ), s"got $got")
  }

  test("removeSubstringRuns composes with exactSubstringRuns end-to-end") {
    val evalDocs = Seq((100L, "A B C D E")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x1 A B C D E x2"),
      (2L, "y1 y2 y3 y4 y5")
    ).toDF("doc_id", "text")
    val runs = Dedup.exactSubstringRuns(
      train, evalDocs, col("doc_id"), col("text"), minRun = 5)
    val got = Dedup.removeSubstringRuns(train, col("doc_id"), col("text"), runs)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got == Set((1L, 7L, 5L, "x1 x2")), s"got $got")
  }

  test("exactSubstringSelfRuns: pairwise runs oriented da<db; within-doc repeats excluded") {
    val docs = Seq(
      (1L, "A B C D t1 t2 A B C D"),     // repeats its own span — NOT a dup
      (2L, "u1 u2 A B C D u3 u4 u5 u6"), // shares A B C D with doc 1 (twice)
      (3L, "v1 v2 v3 v4 v5 v6 v7 v8")    // shares nothing
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringSelfRuns(
        docs, col("doc_id"), col("text"), minRun = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // doc 1 holds the span at positions 1 AND 7 → two diagonals vs doc 2;
    // no (1,1) or (2,2) rows despite doc 1's internal repeat
    assert(got == Set((1L, 2L, 1L, 3L, 4L), (1L, 2L, 7L, 3L, 4L)), s"got $got")
  }

  test("exactSubstringSelfRuns dfCap drops boilerplate shingles before the self-join") {
    // the 4-token license header opens EVERY doc (df = 4); the real
    // 4-token dup lives in docs 1 and 2 only (df = 2)
    val docs = Seq(
      (1L, "shared license header line X B C D t1"),
      (2L, "shared license header line X B C D t2"),
      (3L, "shared license header line o1 o2 o3 o4 o5"),
      (4L, "shared license header line p1 p2 p3 p4 p5")
    ).toDF("doc_id", "text")
    val capped = Dedup.exactSubstringSelfRuns(
        docs, col("doc_id"), col("text"), minRun = 4, dfCap = Some(3L))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // the header (in >3 docs) is gone; the true dup span "X B C D" stays.
    // Run boundaries shift because the capped variant sees fewer matches —
    // the contract is the REPORTED PAIR SET, like q33's capped sibling.
    assert(capped.map(p => (p._1, p._2)) == Set((1L, 2L)), s"got $capped")
    val uncapped = Dedup.exactSubstringSelfRuns(
        docs, col("doc_id"), col("text"), minRun = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(uncapped.map(p => (p._1, p._2)).toSet ==
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)),
      s"uncapped must flag every header pair: ${uncapped.toSeq}")
  }

  test("duplicatedSpans ≡ merged union of the pair join's run intervals (the suffix-array A/B, r19)") {
    // Derive, per document, the merged shingle-interval union of the
    // PAIR form's runs (a run of length L starting at p covers matched
    // shingle positions p .. p + L − minRun; adjacent/overlapping
    // intervals from different pairs merge) — the linear span operator
    // must reproduce it exactly.
    def mergedFromPairs(runs: Seq[(Long, Long, Long, Long, Long)],
        minRun: Int): Set[(Long, Long, Long)] = {
      val cover = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
      runs.foreach { case (da, db, pa, pb, len) =>
        (0L to (len - minRun)).foreach { o =>
          cover.getOrElseUpdate(da, scala.collection.mutable.Set()) += (pa + o)
          cover.getOrElseUpdate(db, scala.collection.mutable.Set()) += (pb + o)
        }
      }
      cover.flatMap { case (id, ps) =>
        val islands = ps.toSeq.sorted.foldLeft(List.empty[List[Long]]) {
          case (h :: t, p) if h.head == p - 1 => (p :: h) :: t
          case (acc, p) => List(p) :: acc
        }
        islands.map(is => (id, is.min, is.max - is.min + minRun))
      }.toSet
    }
    // internal repeats (excluded on both sides), boilerplate shared by
    // many docs, spans shared by different doc subsets at different
    // offsets, and an untouched doc
    val docs = Seq(
      (1L, "A B C D t1 t2 A B C D"),
      (2L, "u1 u2 A B C D u3 u4 u5 u6"),
      (3L, "v1 v2 v3 v4 v5 v6 v7 v8"),
      (4L, "x1 A B C D E x2 x3 x4"),
      (5L, "y1 y2 A B C D E y3 y4")).toDF("doc_id", "text")
    val pairs = Dedup.exactSubstringSelfRuns(docs, col("doc_id"), col("text"), minRun = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val spans = Dedup.duplicatedSpans(docs, col("doc_id"), col("text"), minRun = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(spans == mergedFromPairs(pairs, 4),
      s"spans $spans vs pair-derived ${mergedFromPairs(pairs, 4)}")
    // and on q88's real corpus fixture at its gate parameters
    val rPairs = Dedup.exactSubstringSelfRuns(
        sf0001.documents, col("doc_id"), col("text"), minRun = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val rSpans = Dedup.duplicatedSpans(
        sf0001.documents, col("doc_id"), col("text"), minRun = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(rSpans == mergedFromPairs(rPairs, 8) && rSpans.nonEmpty,
      s"fixture-corpus equivalence broke (${rSpans.size} spans)")
    // the spans feed the removal half directly (pos → pos_train)
    val cleaned = Dedup.removeSubstringRuns(docs, col("doc_id"), col("text"),
      Dedup.duplicatedSpans(docs, col("doc_id"), col("text"), minRun = 4)
        .withColumnRenamed("pos", "pos_train"))
    val c1 = cleaned.filter(col("doc_id") === 1L)
      .select("text_clean").as[String].head()
    assert(c1 == "t1 t2", s"doc 1 after span removal: '$c1'")
  }

  test("exactDupsAgainstCorpus confirms exactly the plain join's pairs (no false negatives)") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta"),
      (3L, "iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val corpusHashes = corpus.select(col("doc_id"), md5(col("text")).as("md5"))
    val batch = Seq(
      (10L, "alpha beta gamma delta"),   // copy of 1
      (11L, "epsilon zeta eta theta"),   // copy of 2
      (12L, "totally novel content here"),
      (13L, "alpha beta gamma DELTA")    // near miss, not exact
    ).toDF("doc_id", "text")
    val got = Dedup.exactDupsAgainstCorpus(
        corpusHashes, batch, col("doc_id"), col("text"), expectedItems = 100L)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (11L, 2L)), s"got $got")
    // the bloom can only ADD candidates: even a pathologically tiny
    // filter (64 bits for 3 items — false positives all but certain)
    // yields the identical confirmed output
    val tiny = Dedup.exactDupsAgainstCorpus(
        corpusHashes, batch, col("doc_id"), col("text"),
        expectedItems = 1L, numBits = 64L)
      .as[(Long, Long)].collect().toSet
    assert(tiny == got, s"confirm join must erase bloom false positives: $tiny")
    // empty corpus flags nothing
    assert(Dedup.exactDupsAgainstCorpus(
      corpusHashes.filter(lit(false)), batch, col("doc_id"), col("text"),
      expectedItems = 100L).count() == 0L)
    // a corpus holding the same text twice yields one row per copy
    val dupCorpus = corpusHashes.unionByName(
      Seq((4L, "alpha beta gamma delta")).toDF("doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("md5")))
    val multi = Dedup.exactDupsAgainstCorpus(
        dupCorpus, batch, col("doc_id"), col("text"), expectedItems = 100L)
      .as[(Long, Long)].collect().toSet
    assert(multi == Set((10L, 1L), (10L, 4L), (11L, 2L)), s"got $multi")
  }

  test("crossContamination normalize=true catches a re-punctuated benchmark answer") {
    val evalDocs = Seq(
      (100L, "the capital of france is paris and always was")
    ).toDF("doc_id", "text")
    val trainDocs = Seq(
      // the eval answer pasted with different punctuation/casing/wrapping:
      // every raw 5-gram differs ("France," vs "france", double space)
      (1L, "Quiz answer: The capital of  France, is Paris! and more"),
      // clean control
      (2L, "completely unrelated text about something else entirely here")
    ).toDF("doc_id", "text")
    val raw = Dedup.crossContamination(
      trainDocs, evalDocs, col("doc_id"), col("text"), n = 5)
      .as[(Long, Long)].collect().toMap
    assert(!raw.contains(1L),
      s"without normalization the re-punctuated twin must escape (documents differ token-wise): $raw")
    val norm = Dedup.crossContamination(
      trainDocs, evalDocs, col("doc_id"), col("text"), n = 5, normalize = true)
      .as[(Long, Long)].collect().toMap
    assert(norm.contains(1L) && norm(1L) >= 1L,
      s"normalization must restore the 5-gram collision: $norm")
    assert(!norm.contains(2L), s"clean doc flagged: $norm")
  }

  test("crossContamination evalDfCap drops boilerplate shingles shared across eval docs") {
    // "shared license header text begins here" appears in ALL THREE eval
    // docs — boilerplate; the real answer 5-gram appears in one
    val evalDocs = Seq(
      (100L, "shared license header text begins here the capital of france is paris"),
      (101L, "shared license header text begins here some other benchmark answer two"),
      (102L, "shared license header text begins here a third benchmark item three")
    ).toDF("doc_id", "text")
    val trainDocs = Seq(
      // carries ONLY the boilerplate header run
      (1L, "shared license header text begins here unrelated training content"),
      // carries the real eval answer
      (2L, "we know the capital of france is paris indeed")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.crossContamination(
      trainDocs, evalDocs, col("doc_id"), col("text"), n = 5)
      .as[(Long, Long)].collect().toMap
    assert(uncapped.contains(1L) && uncapped.contains(2L),
      s"uncapped must flag both (boilerplate included): $uncapped")
    // cap = 1: shingles in >1 distinct eval docs (the header run) are dropped
    val capped = Dedup.crossContamination(
      trainDocs, evalDocs, col("doc_id"), col("text"), n = 5, evalDfCap = Some(1L))
      .as[(Long, Long)].collect().toMap
    assert(!capped.contains(1L),
      s"boilerplate-only doc must be unflagged under the cap: $capped")
    assert(capped.contains(2L),
      s"genuinely contaminated doc must stay flagged under the cap: $capped")
  }

  test("connectedComponentsStars works on STRING ids (no numeric-label requirement)") {
    // the sibling's fixpoint test sums labels, so it needs numeric ids;
    // stars only compares/hashes them — a corpus keyed by URL or content
    // hash skips the id-assignment join entirely
    val pairs = Seq(
      ("url/a", "url/b"), ("url/b", "url/c"), ("url/x", "url/y")
    ).toDF("da", "db")
    val got = Dedup.connectedComponentsStars(pairs).as[(String, String)].collect().toMap
    assert(got == Map(
      "url/a" -> "url/a", "url/b" -> "url/a", "url/c" -> "url/a",
      "url/x" -> "url/x", "url/y" -> "url/x"))
  }

  test("connectedComponentsStars labels a 10k-vertex chain (the pathological-depth case)") {
    // diameter 10_000: plain one-hop propagation would need 10k rounds;
    // star alternation must close it in O(log n) — well under maxIter=50
    val n = 10000L
    val chain = spark.range(n - 1)
      .select(col("id").as("da"), (col("id") + 1).as("db"))
    val got = Dedup.connectedComponentsStars(chain)
    assert(got.count() == n)
    assert(got.filter(col("rep") =!= 0L).count() == 0L,
      "every chain vertex must label to the minimum vertex 0")
  }

  test("connectedComponents on an empty pair table returns an empty labeling") {
    val empty = Seq.empty[(Long, Long)].toDF("da", "db")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("connectedComponents ignores null endpoints and self-pairs") {
    val pairs = Seq(
      (Some(1L), Some(2L)), (Some(3L), Some(3L)), // self-pair: no edge
      (None, Some(4L)), (Some(5L), None)          // null endpoints: dropped
    ).toDF("da", "db")
    val got = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L),
      s"only the clean pair contributes vertices, got $got")
  }

  test("dropNearDups leaves exactly one representative per cluster") {
    val docs = corpus // docs 1,2,3,5 near-dup cluster(s); 4 unrelated
    val pairs = Dedup.minHashNearDups(docs, col("doc_id"), col("text"))
    val kept = Dedup.withPairs(pairs)(p =>
      Dedup.dropNearDups(docs, col("doc_id"), p))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(4L), "the unpaired doc always survives")
    assert(kept.contains(1L), "the minimum id of a cluster is its representative")
    assert(!kept.contains(2L), "the exact dup of doc 1 is dropped")
    // survivors re-deduplicate to nothing
    val residual = Dedup.withPairs(
      Dedup.minHashNearDups(docs.filter(col("doc_id").isin(kept.toSeq: _*)),
        col("doc_id"), col("text")))(_.count())
    assert(residual == 0)
  }

  test("fingerprint collapses token permutations that md5(text) distinguishes") {
    val tok = corpus
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
    val fps = Dedup.fingerprint(tok).as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) == fps(5L), "permuted doc must share the sorted-token fingerprint")
    assert(fps(1L) != fps(4L))
    val exact = corpus.select(col("doc_id"), md5(col("text")).as("h"))
      .as[(Long, String)].collect().toMap
    assert(exact(1L) != exact(5L), "md5(text) must NOT collapse the permutation")
  }

  test("keepBestNearDups keeps the highest-quality member; constant quality degrades to keep-min-id") {
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 99L), (3L, "a", 50L), // one cluster, best = 2
      (9L, "z", 7L)                                    // untouched
    ).toDF("doc_id", "grp", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("da", "db")
    val kept = Dedup.keepBestNearDups(docs, col("doc_id"), col("q"), pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 9L), s"must keep the q=99 member + untouched docs, got $kept")
    // constant quality -> the id tie-break reproduces dropNearDups exactly
    val tied = Dedup.keepBestNearDups(docs, col("doc_id"), lit(1), pairs)
      .select("doc_id").as[Long].collect().toSet
    val minId = Dedup.dropNearDups(docs, col("doc_id"), pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(tied == minId && minId == Set(1L, 9L), s"$tied vs $minId")
  }

  test("winnowFingerprints: detection guarantee and sketch density") {
    // k=3, w=4: any shared run of >= k+w-1 = 6 tokens must plant at
    // least one identical fingerprint in both docs
    val shared = "p q r s t u" // 6 shared tokens
    val corpus = Seq(
      (1L, s"a1 a2 a3 a4 $shared a5 a6 a7 a8"),
      (2L, s"b1 b2 $shared b3 b4 b5 b6 b7 b8 b9")).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(corpus, col("doc_id"), col("text"), k = 3, w = 4)
    val byDoc = fp.as[(Long, String)].collect().groupBy(_._1)
      .map { case (d, rows) => d -> rows.map(_._2).toSet }
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty,
      "a >= k+w-1 shared run must collide in the sketch")
    // density: the sketch is strictly smaller than the full shingle set
    val nShingles = Dedup.shingleSet(corpus, col("doc_id"), col("text"), 3)
      .filter(col("doc_id") === 1L).count()
    assert(byDoc(1L).size < nShingles,
      s"sketch (${byDoc(1L).size}) must be smaller than the shingle set ($nShingles)")
    // determinism: same input, same sketch
    val again = Dedup.winnowFingerprints(corpus, col("doc_id"), col("text"), k = 3, w = 4)
      .as[(Long, String)].collect().toSet
    assert(again == fp.as[(Long, String)].collect().toSet)
  }

  test("ngramContainment catches a subset-dup that Jaccard misses at any usable threshold") {
    // doc 2 = doc 1's first 6 tokens verbatim inside a much longer doc:
    // containment from the short side is 1.0, Jaccard stays tiny
    val long = ((1 to 40).map(i => s"x$i") ++ Seq("a", "b", "c", "d", "e", "f")).mkString(" ")
    val corpus = Seq((1L, long), (2L, "a b c d e f")).toDF("doc_id", "text")
    val sh = Dedup.shingleSet(corpus, col("doc_id"), col("text"), 3)
    val got = Dedup.ngramContainment(sh, 0.9)
      .select("da", "db", "cab", "cba").as[(Long, Long, Double, Double)].collect()
    assert(got.length == 1)
    val (da, db, cab, cba) = got.head
    assert((da, db) == ((1L, 2L)))
    // 4 trigrams of doc 2, all inside doc 1's 44 -> cba = 1.0, cab = 4/44
    assert(cba == 1.0 && math.abs(cab - 4.0 / 44.0) < 1e-12, s"got $got")
    // the symmetric measure scores the same pair ~0.09 — invisible at 0.5
    val jacc = Dedup.ngramJaccard(sh, 0.5)
      .select("da", "db").as[(Long, Long)].collect()
    assert(jacc.isEmpty, "Jaccard must NOT flag the subset-dup")
  }

  test("contaminationFraction: agrees with crossContamination on hits, keeps clean docs at 0") {
    // eval doc shares its middle trigram with train doc 1 only
    val train = Seq(
      (1L, "a b c d e"),   // 3 trigrams, one shared ("b c d")
      (2L, "x y z w v"),   // clean
      (3L, "a b")          // < n tokens: no shingles, no row
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "q b c d r")).toDF("doc_id", "text")
    val got = Dedup.contaminationFraction(train, eval, col("doc_id"), col("text"), n = 3)
      .select("doc_id", "n_shingles", "n_shared", "frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L), s"got ${got.keySet}")
    assert(got(1L) == ((1L, 3L, 1L, 1.0 / 3.0)), s"got ${got(1L)}")
    assert(got(2L) == ((2L, 3L, 0L, 0.0)), s"clean doc must score 0.0, got ${got(2L)}")
    // n_shared column agrees with crossContamination's count wherever it flags
    val binary = Dedup.crossContamination(train, eval, col("doc_id"), col("text"), n = 3)
      .as[(Long, Long)].collect().toMap
    assert(binary == Map(1L -> 1L))
    binary.foreach { case (id, ns) => assert(got(id)._3 == ns) }
  }

  test("lshParamsFor picks divisor pairs tracking the threshold waterline") {
    // the S-curve itself, closed-form: b=4, r=2 at sim=0.5 ->
    // 1 - (1 - 0.25)^4 = 1 - 0.31640625
    assert(math.abs(Dedup.lshCollisionProb(0.5, 4, 2) - 0.68359375) < 1e-12)
    // monotone in sim, and in bands at fixed rows
    assert(Dedup.lshCollisionProb(0.8, 4, 2) > Dedup.lshCollisionProb(0.5, 4, 2))
    assert(Dedup.lshCollisionProb(0.5, 8, 2) > Dedup.lshCollisionProb(0.5, 4, 2))
    // low threshold wants many bands (recall); high threshold wants
    // many rows (precision) — and both must divide numHashes exactly
    val (bLow, rLow) = Dedup.lshParamsFor(16, 0.3)
    val (bHigh, rHigh) = Dedup.lshParamsFor(16, 0.9)
    assert(bLow * rLow == 16 && bHigh * rHigh == 16)
    assert(bLow > bHigh, s"0.3 -> ($bLow,$rLow) must band more than 0.9 -> ($bHigh,$rHigh)")
    // the chosen pair's waterline (1/b)^(1/r) lands nearer the target
    // than the most extreme alternatives
    def waterline(b: Int, r: Int) = math.pow(1.0 / b, 1.0 / r)
    assert(math.abs(waterline(bHigh, rHigh) - 0.9) <
      math.abs(waterline(16, 1) - 0.9))
    // default minHashNearDups geometry (8 hashes, 0.7 threshold) gets a
    // sane interior answer, not a degenerate 1-band or 1-row split
    val (b8, r8) = Dedup.lshParamsFor(8, 0.7)
    assert(b8 * r8 == 8 && b8 > 1 && r8 > 1, s"got ($b8, $r8)")
  }

  test("dedupLinesAcrossCorpus keeps exactly the first (doc_id, pos) occurrence") {
    val docs = Seq(
      (1L, "unique alpha\ncookie banner\nunique beta"),
      (2L, "cookie banner\nunique gamma\ncookie banner"),
      (3L, "cookie banner")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLinesAcrossCorpus(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 holds the corpus-first "cookie banner" → keeps all 3 lines
    assert(got(1L) == ((3L, 3L, "unique alpha\ncookie banner\nunique beta")))
    // doc 2 loses BOTH its copies (first occurrence was doc 1's)
    assert(got(2L) == ((3L, 1L, "unique gamma")))
    // doc 3's only line is a corpus repeat → reconstructs to empty
    assert(got(3L) == ((1L, 0L, "")))
  }

  test("dedupLinesAcrossCorpus drops null-id docs defensively (no merged null group)") {
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "mine\nshared"),
      (null.asInstanceOf[java.lang.Long], "shared\nghost one"),
      (null.asInstanceOf[java.lang.Long], "ghost two")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLinesAcrossCorpus(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Long, String)].collect()
    // only the real doc comes back, and the null-id doc never claimed
    // "shared" (doc 1 keeps both its lines)
    assert(got.toSeq == Seq((1L, 2L, 2L, "mine\nshared")))
  }

  test("dedupLinesAcrossCorpus at sep=\\n\\n dedups paragraphs, preserving inner newlines") {
    val docs = Seq(
      (1L, "keep me\nline two\n\nshared para\nbody"),
      (2L, "shared para\nbody\n\nonly mine")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLinesAcrossCorpus(docs, col("doc_id"), col("text"), sep = "\n\n")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((2L, 2L, "keep me\nline two\n\nshared para\nbody")))
    // doc 2 loses the paragraph doc 1 held first, keeps its own
    assert(got(2L) == ((2L, 1L, "only mine")))
  }

  test("dedupLinesAcrossCorpus: empty lines are dropped, line order survives") {
    val docs = Seq(
      (7L, "first line\n\nsecond line\n"),
      (9L, "")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLinesAcrossCorpus(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(7L) == ((2L, 2L, "first line\nsecond line")))
    // a doc with no non-empty lines still gets its output row
    assert(got(9L) == ((0L, 0L, "")))
  }

  test("dedupLinesAcrossCorpus: hotKeySafe associative form is answer-identical on a skew-salted corpus") {
    // one boilerplate line hot across EVERY doc (the window form's hot
    // key), salted unique lines, multi-copy mid-frequency lines, and a
    // doc that reconstructs to empty — the full shape space. Shuffled
    // doc order + repartition so "first occurrence" is genuinely decided
    // by (id, pos), never by input order.
    val rnd = new scala.util.Random(12L)
    val docs = rnd.shuffle((1L to 400L).map { i =>
      val mid = s"mid ${i % 7}"
      val body =
        if (i % 97 == 0) "HOT BOILERPLATE" // reconstructs empty unless i==1's
        else s"unique $i\nHOT BOILERPLATE\n$mid\nunique tail $i"
      (i, body)
    }).toDF("doc_id", "text").repartition(13)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val window = canon(Dedup.dedupLinesAcrossCorpus(docs, col("doc_id"), col("text")))
    val assoc = canon(Dedup.dedupLinesAcrossCorpus(docs, col("doc_id"), col("text"),
      hotKeySafe = true))
    assert(window == assoc,
      s"forms diverged: ${window.diff(assoc).take(3)} vs ${assoc.diff(window).take(3)}")
    // sanity: the hot line survived exactly once, in doc 1
    assert(window.count(_._4.contains("HOT BOILERPLATE")) == 1)
    assert(window.find(_._1 == 1L).get._4.contains("HOT BOILERPLATE"))
  }

  test("removeBoilerplateLines drops EVERY occurrence at df >= minDocs, keeps below") {
    // "nav bar" in 3 distinct docs (>= 3) → removed everywhere including
    // the first; "twice only" in 2 docs stays; within-doc repetition must
    // count ONE doc toward df (doc 4 repeats "solo line" twice — df 1)
    val docs = Seq(
      (1L, "nav bar\ncontent one\ntwice only"),
      (2L, "content two\nnav bar\ntwice only"),
      (3L, "nav bar\ncontent three"),
      (4L, "solo line\nsolo line\ncontent four")
    ).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplateLines(docs, col("doc_id"), col("text"),
        lit("g"), minDocs = 3L)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 2L, "content one\ntwice only")))
    assert(got(2L) == ((3L, 2L, "content two\ntwice only")))
    assert(got(3L) == ((2L, 1L, "content three")))
    assert(got(4L) == ((3L, 3L, "solo line\nsolo line\ncontent four")))
  }

  test("removeBoilerplateLines scopes document frequency to the group") {
    // the same line is boilerplate in source A (2 docs) but unique in B —
    // removed only under A's key; a fully-boilerplate doc reconstructs
    // empty; null-id docs are dropped under the reassembly rule
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "A", "footer\nreal a1"),
      (java.lang.Long.valueOf(2L), "A", "footer\nreal a2"),
      (java.lang.Long.valueOf(3L), "B", "footer\nreal b"),
      (java.lang.Long.valueOf(4L), "A", "footer"),
      (null.asInstanceOf[java.lang.Long], "A", "footer\nghost")
    ).toDF("doc_id", "source", "text")
    val got = Dedup.removeBoilerplateLines(docs, col("doc_id"), col("text"),
        col("source"), minDocs = 2L)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((2L, 1L, "real a1")))
    assert(got(2L) == ((2L, 1L, "real a2")))
    // B's lone copy survives: df is per (group, line)
    assert(got(3L) == ((2L, 2L, "footer\nreal b")))
    // everything boilerplate → empty reconstruction, counts intact
    assert(got(4L) == ((1L, 0L, "")))
  }

  test("boilerplateLines never emits null-group rows (they would crash the scrub's map build)") {
    val docs = Seq(
      (1L, Option("A"), "footer\na1"),
      (2L, Option("A"), "footer\na2"),
      (3L, Option.empty[String], "footer\nfooter extra"),
      (4L, Option.empty[String], "footer")
    ).toDF("doc_id", "source", "text")
    val boiler = Dedup.boilerplateLines(docs, col("doc_id"), col("text"),
      col("source"), minDocs = 2L)
    val rows = boiler.collect().map(r => (r.getAs[String]("group"), r.getAs[String]("line")))
    // "footer" reached minDocs both under A (docs 1,2) and under null
    // (docs 3,4) — only the A row may surface
    assert(rows.toSet == Set(("A", "footer")))
    // and the removal semantics stay consistent: null-group docs keep
    // their lines (the anti join's equality can never match them)
    val removed = Dedup.removeBoilerplateLines(docs, col("doc_id"), col("text"),
        col("source"), minDocs = 2L)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(removed(3L) == "footer\nfooter extra" && removed(4L) == "footer")
    assert(removed(1L) == "a1" && removed(2L) == "a2")
  }

  test("removeBoilerplateLines rejects the degenerate minDocs < 2") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.removeBoilerplateLines(docs, col("doc_id"), col("text"), lit("g"), 1L)
    }
  }
}
