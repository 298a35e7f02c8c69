package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // two clear clusters around the two axis-aligned centroids 0 and 1
  private val vecs = Seq(
    (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),            // centroids
    (10L, Seq(0.9, 0.1)), (11L, Seq(0.95, 0.05)),        // cluster of 0
    (20L, Seq(0.1, 0.9)), (21L, Seq(0.05, 0.95))         // cluster of 1
  ).toDF("vec_id", "e")

  test("ivfAssign puts each vector in its obvious cluster") {
    val assign = Similarity.ivfAssign(vecs, vecs.filter(col("vec_id") < 2))
      .as[(Long, Long)].collect().toMap
    assert(assign(10L) == 0L && assign(11L) == 0L)
    assert(assign(20L) == 1L && assign(21L) == 1L)
    assert(assign(0L) == 0L && assign(1L) == 1L)
  }

  test("trainCentroids converges to the cluster means on the toy set") {
    val trained = Similarity.trainCentroids(vecs, k = 2, iters = 3, dim = 2)
      .as[(Long, Seq[Double])].collect().toMap
    // cluster of axis-x: {(1,0),(0.9,0.1),(0.95,0.05)} → mean (0.95, 0.05)
    val c0 = trained(0L)
    val c1 = trained(1L)
    assert(math.abs(c0(0) - 0.95) < 1e-9 && math.abs(c0(1) - 0.05) < 1e-9)
    assert(math.abs(c1(0) - 0.05) < 1e-9 && math.abs(c1(1) - 0.95) < 1e-9)
    // trained centroids still drive ivfAssign correctly
    val assign = Similarity.ivfAssign(vecs, trained.toSeq.toDF("vec_id", "e"))
      .as[(Long, Long)].collect().toMap
    assert(assign(10L) == 0L && assign(21L) == 1L)
  }

  test("trainCentroids stops early once centroid movement hits the ε floor") {
    // on this corpus the assignment is stable after round 1 and the means
    // are bit-identical from round 2 on — a fixed-iteration loop would
    // burn every remaining round on no-op corpus passes
    val (cents, used) = Similarity.trainCentroidsConverged(
      vecs, k = 2, iters = 50, dim = 2, eps = 0.0)
    assert(used < 50, s"ran all $used rounds — ε stop never fired")
    assert(used <= 3, s"toy set must converge in <= 3 rounds, took $used")
    // the early-stopped result is EXACTLY the fixed-iteration result
    val fixed = Similarity.trainCentroids(vecs, k = 2, iters = used, dim = 2)
      .as[(Long, Seq[Double])].collect().toMap
    assert(cents.toMap == fixed)
    // a loose ε stops sooner than the exact one, never later
    val (_, loose) = Similarity.trainCentroidsConverged(
      vecs, k = 2, iters = 50, dim = 2, eps = 1.0)
    assert(loose <= used)
  }

  test("stringNearestNeighbor: length-band prefilter answer equals brute force") {
    val parts = Tables(spark, "/root/testdata/sf0.001").part
      .select(col("p_partkey"), col("p_name"))
    val fast = Similarity.stringNearestNeighbor(parts, col("p_partkey"), col("p_name"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // brute force all-pairs with the identical (d, pb) tie-break
    val a = parts.select(col("p_partkey").as("pa"), col("p_name").as("na"))
    val b = parts.select(col("p_partkey").as("pb"), col("p_name").as("nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pa").orderBy(col("d"), col("pb"))
    val brute = a.join(b, col("pa") =!= col("pb"))
      .select(col("pa"), col("pb"), levenshtein(col("na"), col("nb")).cast("long").as("d"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .as[(Long, Long, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(fast == brute, "prefiltered exact NN must equal the all-pairs answer")
    assert(fast.nonEmpty)
    // the prefilter must actually prune: candidate pairs (length band per
    // the adjacent-string upper bound, recomputed here) < all pairs
    val rows = parts.select(col("p_partkey"), col("p_name"), length(col("p_name")))
      .as[(Long, String, Int)].collect().sortBy(r => (r._3, r._1))
    def lev(x: String, y: String): Int =
      org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
        .apply(x, y)
    val dUp = rows.indices.map { i =>
      val cands = Seq(i - 1, i + 1).filter(rows.indices.contains)
      cands.map(j => lev(rows(i)._2, rows(j)._2)).min
    }
    val candidates = rows.indices.map { i =>
      rows.count(r => r._1 != rows(i)._1 && math.abs(r._3 - rows(i)._3) <= dUp(i))
    }.map(_.toLong).sum
    val allPairs = rows.length.toLong * (rows.length - 1)
    assert(candidates < allPairs,
      s"prefilter must prune: $candidates candidate pairs vs $allPairs all pairs")
  }

  test("stringNearestNeighborPartitioned equals the broadcast form (and brute force)") {
    val parts = Tables(spark, "/root/testdata/sf0.001").part
      .select(col("p_partkey"), col("p_name"))
    val broadcastForm =
      Similarity.stringNearestNeighbor(parts, col("p_partkey"), col("p_name"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val partitioned =
      Similarity.stringNearestNeighborPartitioned(parts, col("p_partkey"), col("p_name"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(partitioned == broadcastForm,
      "the no-broadcast equi-join form must give the identical exact answer")
    assert(partitioned.nonEmpty)
    // degenerate corpora must not explode the unbounded dUp into a sequence
    val two = Seq((1L, "abc"), (2L, "zz")).toDF("id", "s")
    val nn = Similarity.stringNearestNeighborPartitioned(two, col("id"), col("s"))
      .as[(Long, Long, Long)].collect().toSet
    assert(nn == Set((1L, 2L, 3L), (2L, 1L, 3L)))
  }

  test("ivfTopK searches only the query's bucket") {
    val assign = Similarity.ivfAssign(vecs, vecs.filter(col("vec_id") < 2))
    val out = Similarity.ivfTopK(vecs, assign, vecs.filter(col("vec_id") === 10L), k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    // bucket 0 contains {0, 10, 11}: neighbors of 10 are 0 and 11, never cluster 1
    assert(out == Set((10L, 0L), (10L, 11L)))
  }

  test("multi-probe IVF: nprobe=1 equals single-bucket, nprobe=#centroids equals brute force") {
    val centroids = vecs.filter(col("vec_id") < 2)
    val assign = Similarity.ivfAssign(vecs, centroids)
    val queries = vecs.filter(col("vec_id") === 10L)

    // nprobe=1 ≡ ivfTopK (query assignment came from the same centroids)
    val p1 = Similarity.ivfTopKProbed(vecs, assign, centroids, queries, k = 5, nprobe = 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val single = Similarity.ivfTopK(vecs, assign, queries, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(p1 == single, s"nprobe=1 must match the single-bucket form: $p1 vs $single")

    // nprobe=2 finds the cross-boundary neighbors nprobe=1 misses:
    // bucket 0 = {0, 10, 11}; the other cluster only appears at nprobe=2
    val p2 = Similarity.ivfTopKProbed(vecs, assign, centroids, queries, k = 5, nprobe = 2)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(p1.subsetOf(p2) && p2.size > p1.size,
      s"recall must grow with nprobe: $p1 vs $p2")

    // nprobe = #centroids ≡ brute-force top-k over the whole corpus
    val full = Similarity.ivfTopKProbed(vecs, assign, centroids, queries, k = 3, nprobe = 2)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect().toSet
    val brute = {
      val q = Seq(0.9, 0.1)
      def cos(a: Seq[Double]) = {
        val dot = a.zip(q).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum))
      }
      vecs.as[(Long, Seq[Double])].collect().filter(_._1 != 10L)
        .map { case (id, e) => (id, cos(e)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).zipWithIndex
        .map { case ((id, _), i) => (10L, id, i + 1) }.toSet
    }
    assert(full == brute, s"probing every bucket must equal brute force: $full vs $brute")
  }

  test("indexIngest: incremental batch encode equals the full-corpus encode on shared artifacts") {
    // the q75/q87 incremental-equals-full discipline restated for the
    // vector index: encoding ONLY the new batch against the persisted
    // centroid/codebook artifacts must produce exactly the rows a full
    // re-encode would hold for those ids — so appending them to the
    // code table is lossless
    val centroids = vecs.filter(col("vec_id") < 2)
    val cb = Similarity.pqCodebook(vecs, m = 2, ksub = 2, dim = 2)
    val batch = vecs.filter(col("vec_id") >= 20)
    val incr = Similarity.indexIngest(batch, centroids, cb, m = 2, dim = 2)
      .as[(Long, Long, Int, Long)].collect().toSet
    val full = Similarity.ivfAssign(vecs, centroids)
      .join(Similarity.pqEncode(vecs, cb, m = 2, dim = 2), "vec_id")
      .filter(col("vec_id") >= 20)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(incr == full && incr.nonEmpty, s"incremental $incr vs full $full")
    // and the ingested rows are searchable as-is: every batch id ranks
    // in an ivfPqTopK over the UNION of old + new code reconstructions
    val allRecon = Similarity.pqReconstruct(
      Similarity.pqEncode(vecs, cb, m = 2, dim = 2), cb)
    val assignAll = Similarity.ivfAssign(vecs, centroids)
    val hits = Similarity.ivfPqTopK(assignAll, allRecon, centroids,
        batch, k = 2, nprobe = 2)
      .select("qid").distinct().as[Long].collect().toSet
    assert(hits == Set(20L, 21L), s"batch queries must answer over the index: $hits")
  }

  test("PQ: m=1 with a full codebook reconstructs exactly, so ADC equals brute-force L2") {
    // every vector is its own nearest codebook entry (distance 0) → the
    // reconstruction IS the vector → asymmetric distance degenerates to
    // exact L2 — the same exactness-anchor discipline as multi-probe's
    // nprobe=#centroids ≡ brute force
    val n = 6
    val cb = Similarity.pqCodebook(vecs, m = 1, ksub = 100, dim = 2)
    val codes = Similarity.pqEncode(vecs, cb, m = 1, dim = 2)
      .as[(Long, Int, Long)].collect()
    assert(codes.forall { case (vid, j, code) => j == 1 && code == vid },
      s"full codebook must encode every vector as itself: ${codes.toSeq}")
    val recon = Similarity.pqReconstruct(
      Similarity.pqEncode(vecs, cb, m = 1, dim = 2), cb)
    val re = recon.as[(Long, Seq[Double])].collect().toMap
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    assert(re == orig, "reconstruction must be exact with a full codebook")
    val adc = Similarity.pqTopKAdc(recon, vecs, k = n - 1)
      .select("qid", "vec_id", "adist").as[(Long, Long, Double)].collect()
    for ((qid, vid, d) <- adc) {
      val exact = math.sqrt(orig(qid).zip(orig(vid))
        .map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(d == exact, s"ADC($qid,$vid)=$d must equal exact L2 $exact")
    }
  }

  test("PQ: quantized ranking preserves the coarse cluster structure") {
    // 2 subspaces of 1 dim, codebook from the two axis centroids: every
    // cluster-0 member quantizes to (1,0), every cluster-1 member to
    // (0,1) — a query from cluster 0 must rank cluster-0 members (adist
    // sqrt(0.02)-ish) strictly above cluster-1 members (adist ~sqrt 2)
    val cb = Similarity.pqCodebook(vecs, m = 2, ksub = 2, dim = 2)
    val recon = Similarity.pqReconstruct(
      Similarity.pqEncode(vecs, cb, m = 2, dim = 2), cb)
    val top = Similarity.pqTopKAdc(recon, vecs.filter(col("vec_id") === 10L), k = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(top.subsetOf(Set(0L, 11L)),
      s"nearest quantized neighbors of 10 must stay in its cluster: $top")
  }

  test("PQ re-rank: candidates covering the corpus make the answer exactly brute-force") {
    // the re-rank's exactness anchor: with k·mult >= corpus the ADC
    // candidate stage keeps everyone, so the exact re-rank IS exact
    // brute-force L2 top-k — even against a COARSE codebook whose
    // ADC-only ranking is wrong in fine order
    val n = 6
    val cb = Similarity.pqCodebook(vecs, m = 2, ksub = 2, dim = 2) // coarse
    val recon = Similarity.pqReconstruct(
      Similarity.pqEncode(vecs, cb, m = 2, dim = 2), cb)
    val got = Similarity.pqTopKReranked(recon, vecs, vecs, k = 2, mult = n)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    orig.keys.foreach { q =>
      val exact = orig.keys.filter(_ != q).toSeq.map { v =>
        (math.sqrt(orig(q).zip(orig(v)).map { case (a, b) => (a - b) * (a - b) }.sum), v)
      }.sortBy(identity).take(2).map(_._2)
      assert(got(q) == exact, s"query $q: reranked ${got(q)} vs exact $exact")
    }
  }

  test("IVF-PQ: nprobe=#centroids with a full codebook equals brute-force L2 top-k") {
    // both approximations turned off at their exact endpoints: every
    // bucket probed AND exact reconstruction → ivfPqTopK must reproduce
    // the exact L2 ranking (the composed exactness anchor)
    val centroids = vecs.filter(col("vec_id") < 2)
    val assign = Similarity.ivfAssign(vecs, centroids)
    val cb = Similarity.pqCodebook(vecs, m = 1, ksub = 100, dim = 2)
    val recon = Similarity.pqReconstruct(
      Similarity.pqEncode(vecs, cb, m = 1, dim = 2), cb)
    val got = Similarity.ivfPqTopK(assign, recon, centroids, vecs, k = 5, nprobe = 2)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    for ((qid, ranked) <- got) {
      val exact = orig.keys.filter(_ != qid).toSeq.sortBy { v =>
        (math.sqrt(orig(qid).zip(orig(v)).map { case (a, b) => (a - b) * (a - b) }.sum), v)
      }
      assert(ranked == exact, s"q$qid: got $ranked want $exact")
    }
    // nprobe=1 restricts to the query's own bucket (strictly fewer rows)
    val own = Similarity.ivfPqTopK(assign, recon, centroids, vecs, k = 5, nprobe = 1)
    assert(own.count() < Similarity.ivfPqTopK(
      assign, recon, centroids, vecs, k = 5, nprobe = 2).count())
  }

  test("IVF+PQ+rerank composed: exact endpoints reproduce brute-force L2 top-k") {
    // every bucket probed AND candidates covering the corpus: the ADC
    // stage may rank arbitrarily badly (coarse 2x2 codebook) but the
    // exact re-rank over the full candidate set must be brute force —
    // the pqTopKReranked anchor, through the bucketed candidate path
    val n = 6
    val centroids = vecs.filter(col("vec_id") < 2)
    val assign = Similarity.ivfAssign(vecs, centroids)
    val cb = Similarity.pqCodebook(vecs, m = 2, ksub = 2, dim = 2) // coarse
    val recon = Similarity.pqReconstruct(
      Similarity.pqEncode(vecs, cb, m = 2, dim = 2), cb)
    val got = Similarity.ivfPqTopKReranked(assign, recon, centroids, vecs, vecs,
        k = 2, nprobe = 2, mult = n)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    orig.keys.foreach { q =>
      val exact = orig.keys.filter(_ != q).toSeq.map { v =>
        (math.sqrt(orig(q).zip(orig(v)).map { case (a, b) => (a - b) * (a - b) }.sum), v)
      }.sorted.take(2).map(_._2)
      assert(got(q) == exact, s"query $q: composed ${got(q)} vs exact $exact")
    }
    // nprobe=1 restricts candidates to the query's own bucket
    val own = Similarity.ivfPqTopKReranked(assign, recon, centroids, vecs, vecs,
        k = 5, nprobe = 1, mult = n)
      .select("qid", "vec_id").as[(Long, Long)].collect()
    val a = Similarity.ivfAssign(vecs, centroids).as[(Long, Long)].collect().toMap
    assert(own.forall { case (q, v) => a(q) == a(v) },
      s"nprobe=1 answers must stay in the query's bucket: ${own.toSeq}")
  }

  test("residual reconstruction: full codebook is exact (re = centroid + residual)") {
    // m=1, ksub covering the corpus: every RESIDUAL encodes as itself,
    // so centroid + PQ(residual) must reproduce the original vector
    // bit-for-bit — including both centroids, whose zero residuals tie
    // (code asc picks 0 for both, sub (0,0), reconstruction unaffected)
    val centroids = vecs.filter(col("vec_id") < 2)
    val assign = Similarity.ivfAssign(vecs, centroids)
    val recon = Similarity.ivfResidualReconstruct(vecs, assign, centroids,
      m = 1, ksub = 100, dim = 2)
    val re = recon.as[(Long, Seq[Double])].collect().toMap
    val orig = vecs.as[(Long, Seq[Double])].collect().toMap
    assert(re == orig, s"full-codebook residual reconstruction must be exact: $re")
    // and composed IVFADC at every-bucket probing is then brute force
    val got = Similarity.ivfPqTopK(assign, recon, centroids, vecs, k = 5, nprobe = 2)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    for ((qid, ranked) <- got) {
      val exact = orig.keys.filter(_ != qid).toSeq.sortBy { v =>
        (math.sqrt(orig(qid).zip(orig(v)).map { case (a, b) => (a - b) * (a - b) }.sum), v)
      }
      assert(ranked == exact, s"q$qid: got $ranked want $exact")
    }
  }

  test("cosine LSH: exact precision, high recall on embedding near-dups, deterministic") {
    // SRP-LSH targets NEAR-DUPLICATE embeddings (cosine >= ~0.9) — the
    // dedup regime, where a handful of sign bits separates dup from
    // non-dup. (The fixture embeddings top out at pairwise cosine ~0.5 —
    // weakly-similar search territory, which is q35's IVF path, not LSH.)
    // Synthetic near-dup corpus: 40 cluster centers, 3 jittered copies
    // each; within-cluster cosine ~0.99+, cross-cluster ~0.
    val dim = 16
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val rows = (for {
      c <- 0 until 40
      base = Array.fill(dim)(rnd.nextGaussian())
      j <- 0 until 3
    } yield ((c * 10 + j).toLong,
        unit(base.zipWithIndex.map { case (x, _) => x + rnd.nextGaussian() * 0.02 }).toSeq))
    val emb = rows.toDF("vec_id", "embedding")
    val thresh = 0.9
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val a = e.select(col("vec_id").as("da"), col("e").as("ea"))
    val b = e.select(col("vec_id").as("db"), col("e").as("eb"))
    val brute = a.join(b, col("da") < col("db"))
      .select(col("da"), col("db"),
        graft.plans.GraftFunctions.cosineSimilarity(col("ea"), col("eb")).as("sim"))
      .filter(col("sim") >= thresh)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(brute.size >= 100, s"clusters must generate near-dup pairs, got ${brute.size}")
    val lsh = Similarity.cosineLshNearDups(emb, col("vec_id"), col("embedding"), dim, thresh)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute), "every emitted pair is cosine-verified — precision 1")
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall (${lsh.size}/${brute.size}) below the 8x8-bit design point")
    // determinism: hyperplanes are seed-derived, so reruns are identical
    val again = Similarity.cosineLshNearDups(emb, col("vec_id"), col("embedding"), dim, thresh)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(again == lsh)
  }

  test("native srp_bands keys equal the composed HOF fold bit-for-bit") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val (tables, bits, dim, seed) = (8, 8, 64, 42)
    val composed = Similarity.srpBandKeysComposed(col("e"), dim, tables, bits, seed)
    val both = emb.select(
        col("vec_id"),
        array(composed: _*).as("hof"),
        graft.plans.GraftFunctions.srpBands(col("e"), tables, bits, dim, seed).as("native"))
      .as[(Long, Seq[Int], Seq[Int])].collect()
    assert(both.nonEmpty)
    both.foreach { case (id, hof, native) =>
      assert(native == hof, s"vector $id band keys diverged")
    }
  }

  test("clusterAudit: tight separated clusters score db_ratio < 1; empty centroid absent") {
    // two tight clusters on orthogonal axes + one centroid nothing picks
    // (cosine assignment: members sit on c0/c1's axes, never c2's)
    val vecs = Seq(
      (0L, Seq(10.0, 0.0, 0.0)), (1L, Seq(0.0, 10.0, 0.0)), (2L, Seq(0.0, 0.0, -10.0)),
      (10L, Seq(9.0, 1.0, 0.0)), (11L, Seq(11.0, -1.0, 0.0)),
      (20L, Seq(1.0, 9.0, 0.0)), (21L, Seq(-1.0, 11.0, 0.0))
    ).toDF("vec_id", "e")
    val audit = Similarity.clusterAudit(vecs, vecs.filter(col("vec_id") < 3))
      .select("cid", "n", "mean_d", "nn_cid", "nn_d", "db_ratio")
      .as[(Long, Long, Double, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // centroid 2 attracts no vector (its own row included — it IS a vector
    // here, and it assigns to itself), so clusters 0/1/2 all appear; check
    // the two real clusters' shape
    assert(audit(0L)._2 == 3L && audit(1L)._2 == 3L, s"got $audit")
    // members are sqrt(2) from their centroid on average (plus the
    // centroid itself at 0): mean_d = 2*sqrt(2)/3
    assert(math.abs(audit(0L)._3 - 2.0 * math.sqrt(2.0) / 3.0) < 1e-9)
    // separation: |c0-c1| = sqrt(200) ~ 14.1 >> cohesion -> ratio < 1
    assert(audit(0L)._4 == 1L && math.abs(audit(0L)._5 - math.sqrt(200.0)) < 1e-9)
    assert(audit(0L)._6 < 1.0 && audit(1L)._6 < 1.0)
    // drop centroid 2's own vector: its cluster empties and the row vanishes
    val noC2 = Similarity.clusterAudit(
        vecs.filter(col("vec_id") =!= 2L), vecs.filter(col("vec_id") < 3))
      .select("cid").as[Long].collect().toSet
    assert(noC2 == Set(0L, 1L), s"empty cluster must have no row, got $noC2")
  }

  test("semDedupDropped: drops the less-diverse member of each in-cluster tau pair") {
    // centroids: c0 = x-axis, c1 = y-axis. 10 and 11 are a near-identical
    // pair in cluster 0 (cos > 0.999); 10 sits closer to the centroid, so
    // the paper's diversity rule drops 10 and keeps 11. Vector 0 is only
    // cos ~0.9939 to 10 (below tau) and 12 has no tau-neighbor at all.
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (10L, Seq(0.9, 0.1)), (11L, Seq(0.89, 0.11)), (12L, Seq(0.1, 0.9))
    ).toDF("vec_id", "e")
    val centroids = vecs.filter(col("vec_id") < 2)
    val dropped = Similarity.semDedupDropped(vecs, centroids, tau = 0.999)
      .collect().map(r => (r.getAs[Long]("cid"), r.getAs[Long]("vec_id"), r.getAs[Long]("n_dups")))
    assert(dropped.toSeq == Seq((0L, 10L, 1L)), s"got ${dropped.toSeq}")
    // survivors = anti-join: everyone but 10
    val kept = vecs.join(Similarity.semDedupDropped(vecs, centroids, tau = 0.999),
      Seq("vec_id"), "left_anti").select("vec_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 11L, 12L))
  }

  test("marginMinedPairs: closed-form ratio margins, hub normalization, threshold") {
    // sims: (1,10)=0.9 (1,11)=0.1 (2,10)=0.8 (2,11)=0.7, k=2:
    //   sa(1)=0.5  sa(2)=0.75  sb(10)=0.85  sb(11)=0.4
    //   top1(1)=10 margin 0.9/0.675 = 4/3; top1(2)=10 margin 0.8/0.8 = 1.0
    // vec 10 is the HUB (everyone's best): qid 2's pair with it scores
    // exactly 1.0 — the density normalization at work
    val pairs = Seq((1L, 10L, 0.9), (1L, 11L, 0.1), (2L, 10L, 0.8), (2L, 11L, 0.7))
      .toDF("qid", "vec_id", "sim")
    val all = Similarity.marginMinedPairs(pairs, k = 2, minMargin = 1.0)
      .select("qid", "vec_id", "margin").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(all.keySet == Set(1L, 2L))
    assert(all(1L)._1 == 10L && math.abs(all(1L)._2 - 4.0 / 3) < 1e-12)
    assert(all(2L)._1 == 10L && math.abs(all(2L)._2 - 1.0) < 1e-12)
    // a stricter threshold drops the hub-normalized pair
    val strict = Similarity.marginMinedPairs(pairs, k = 2, minMargin = 1.2)
      .select("qid").as[Long].collect()
    assert(strict.toSeq == Seq(1L))
    intercept[IllegalArgumentException] {
      Similarity.marginMinedPairs(pairs, k = 0, minMargin = 1.0)
    }
  }

  // ── Matryoshka prefix-dim rerank ───────────────────────────────────────

  test("prefixRerankTopK: dPrefix >= dim degenerates to exact brute-force top-k") {
    val e = sf0001.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val queries = e.filter(col("vec_id") < 3)
    val got = Similarity.prefixRerankTopK(e, queries, k = 4, dPrefix = 64, mult = 1)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect().sorted.toSeq
    val exact = Similarity.pqTopKAdc(
        e.select(col("vec_id"), col("e").as("re")), queries, k = 4)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect().sorted.toSeq
    assert(got == exact && got.nonEmpty)
  }

  test("prefixRerankTopK: a misleading prefix is cut at mult=1 and recovered by the wider cut") {
    // query at the origin; A's PREFIX is nearest but its tail is far,
    // B is the true nearest neighbor with a worse prefix — the exact
    // failure/recovery trade the mult knob controls
    val vs = Seq(
      (0L, Seq(0.0, 0.0, 0.0, 0.0)), // the query
      (1L, Seq(0.1, 0.0, 5.0, 5.0)), // A: prefix-near, truly far
      (2L, Seq(1.0, 0.0, 0.0, 0.0))) // B: prefix-far, truly near
      .toDF("vec_id", "e")
    val q = vs.filter(col("vec_id") === 0L)
    val narrow = Similarity.prefixRerankTopK(vs, q, k = 1, dPrefix = 2, mult = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(narrow == Seq(1L), "at mult=1 the prefix cut keeps only A")
    val wide = Similarity.prefixRerankTopK(vs, q, k = 1, dPrefix = 2, mult = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(wide == Seq(2L), "the 2x candidate cut lets exact rerank find B")
    // full-width adist is reported, not the prefix distance
    val d = Similarity.prefixRerankTopK(vs, q, k = 1, dPrefix = 2, mult = 2)
      .select("adist").as[Double].head()
    assert(math.abs(d - 1.0) < 1e-12)
    intercept[IllegalArgumentException] {
      Similarity.prefixRerankTopK(vs, q, k = 1, dPrefix = 0, mult = 1)
    }
  }

  // ── SQ8 scalar quantization ────────────────────────────────────────────

  private val sqVecs = Seq(
    (0L, Seq(0.0, 5.0, -2.0, -1.0)),
    (1L, Seq(1.0, 5.0, 2.0, 3.0)),
    (2L, Seq(0.5, 5.0, 0.0, 7.0))).toDF("vec_id", "e")

  test("SQ8: codes bounded [0,255], min->0 max->255, constant dim codes 0") {
    val stats = Similarity.sqStats(sqVecs, 4)
    val codes = Similarity.sqEncode(sqVecs, stats)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.values.flatten.forall(c => c >= 0 && c <= 255))
    assert(codes(0L)(0) == 0 && codes(1L)(0) == 255)
    // dim 1 is constant 5.0: zero span must code 0 (not NULL/divide-by-0)
    assert(codes.values.forall(_(1) == 0))
  }

  test("SQ8: reconstruction error <= half a cell per dim; zero-span dim exact") {
    val stats = Similarity.sqStats(sqVecs, 4)
    val recon = Similarity.sqReconstruct(
      Similarity.sqEncode(sqVecs, stats), stats)
      .as[(Long, Seq[Double])].collect().toMap
    val orig = sqVecs.as[(Long, Seq[Double])].collect().toMap
    val spans = Seq(1.0, 0.0, 4.0, 8.0) // per-dim mx - mn of the fixture
    for ((id, e) <- orig; i <- e.indices) {
      val err = math.abs(recon(id)(i) - e(i))
      assert(err <= spans(i) / 512.0 + 1e-12,
        s"vec $id dim $i: err $err > half-cell ${spans(i) / 512.0}")
    }
    // zero-span dim reconstructs mn + 0.5*0 = mn EXACTLY
    assert(recon.values.forall(_(1) == 5.0))
  }

  test("SQ8 ADC ranking equals exact brute force when gaps exceed quantization noise") {
    val vs = (0L to 15L).map(i =>
      (i, Seq(i * 10.0, (i % 4) * 20.0, ((i * 7) % 16) * 5.0, 1.0)))
      .toDF("vec_id", "e")
    val stats = Similarity.sqStats(vs, 4)
    val recon = Similarity.sqReconstruct(Similarity.sqEncode(vs, stats), stats)
    val queries = vs.filter(col("vec_id") < 3)
    val sq = Similarity.pqTopKAdc(recon, queries, k = 3)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect().sorted.toSeq
    val exact = Similarity.pqTopKAdc(
        vs.select(col("vec_id"), col("e").as("re")), queries, k = 3)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect().sorted.toSeq
    assert(sq == exact, "8-bit cells must not reorder well-separated neighbors")
    assert(sq.nonEmpty)
  }

  test("sqStatsTall (high-dim restatement) is BIT-identical to the wide sqStats form") {
    // min/max are order-free exact, so the posexplode->groupBy(pos)
    // restatement must reproduce the wide column-per-dim aggregate
    // exactly — the 100 TB path at dim >= ~1k is this code, not a
    // scaladoc comment. Checked on the tiny fixture, the real sf0.001
    // embeddings (dim=64), and a deliberately WIDE synthetic corpus
    // (dim=512 — past where anyone should build 1024 agg expressions).
    def statsOf(df: org.apache.spark.sql.DataFrame, dim: Int) = {
      val wide = Similarity.sqStats(df, dim)
        .as[(Seq[Double], Seq[Double])].head()
      val tall = Similarity.sqStatsTall(df, dim)
        .as[(Seq[Double], Seq[Double])].head()
      (wide, tall)
    }
    val (w1, t1) = statsOf(sqVecs, 4)
    assert(w1 == t1)
    val emb = sf0001.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val (w2, t2) = statsOf(emb, 64)
    assert(w2 == t2)
    val wideDim = 512
    val wideVecs = spark.range(200).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.transform(
        sequence(lit(0), lit(wideDim - 1)),
        i => sin(col("id") * i.cast("double") + i)).as("e"))
    val (w3, t3) = statsOf(wideVecs, wideDim)
    assert(w3 == t3 && w3._1.length == wideDim)
    // and the downstream contract holds: encode over tall stats ==
    // encode over wide stats
    val cw = Similarity.sqEncode(sqVecs, Similarity.sqStats(sqVecs, 4))
      .as[(Long, Seq[Int])].collect().toMap
    val ct = Similarity.sqEncode(sqVecs, Similarity.sqStatsTall(sqVecs, 4))
      .as[(Long, Seq[Int])].collect().toMap
    assert(cw == ct)
  }

  test("SQ8 codes are invariant to partitioning") {
    val stats = Similarity.sqStats(sqVecs, 4)
    val a = Similarity.sqEncode(sqVecs.repartition(7), stats)
      .as[(Long, Seq[Int])].collect().toMap
    val b = Similarity.sqEncode(sqVecs.coalesce(1), stats)
      .as[(Long, Seq[Int])].collect().toMap
    assert(a == b)
  }

  // ── k-means|| scalable init ────────────────────────────────────────────

  /** Low ids ALL in cluster A (around +x), the far cluster B (around +y)
    * only at the highest ids — the exact layout where first-k-by-id
    * seeding is blind (both seeds in A) and the `index_drift` probe showed
    * real recall damage (ROUND_NOTES.md, round 14; probe source
    * `Soak.scala` at 99b069a). */
  private def kmppFixture = {
    val a = (0 until 36).map(i => (i.toLong, Seq(1.0, 0.001 * (i % 6))))
    val b = (36 until 40).map(i => (i.toLong, Seq(0.001 * (i % 4), 1.0)))
    (a ++ b).toDF("vec_id", "e")
  }

  test("scalableInit is bit-deterministic across partitionings") {
    val df = kmppFixture
    val r1 = Similarity.scalableInit(df, k = 2, rounds = 2, l = 4)
      .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    val r2 = Similarity.scalableInit(df.repartition(7), k = 2, rounds = 2, l = 4)
      .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(r1 == r2, "md5 draws + integer thresholds must not see partitioning")
    assert(r1.nonEmpty)
    // exactly k ranks assigned, 0..k-1
    assert(r1.flatMap(_._3).sorted == Seq(0L, 1L))
    // weights cover the corpus: every point attracted to some candidate
    assert(r1.map(_._2).sum == 40L)
  }

  test("scalableInit seeds both clusters where first-k-by-id seeds only one") {
    val df = kmppFixture
    val seeds = Similarity.scalableInitCentroids(df, k = 2, rounds = 2, l = 4)
      .as[(Long, Seq[Double])].collect().toMap
    // one seed per direction: x-dominant and y-dominant
    assert(seeds.values.exists(e => e(0) > e(1)), s"no A-cluster seed in $seeds")
    assert(seeds.values.exists(e => e(1) > e(0)), s"no B-cluster seed in $seeds")
    // first-k init by construction takes ids 0,1 — both in A
    val naive = df.orderBy("vec_id").limit(2).as[(Long, Seq[Double])].collect()
    assert(naive.forall(_._2.head > 0.5))
  }

  test("scalableInit + Lloyd beats first-k init + Lloyd on within-cluster SSE") {
    val df = kmppFixture
    def sse(centroids: org.apache.spark.sql.DataFrame): Double = {
      val c = centroids.select(col("vec_id").as("cid"), col("e").as("ce"))
      df.join(Similarity.ivfAssign(df, centroids), "vec_id")
        .join(broadcast(c), "cid")
        .select(graft.plans.GraftFunctions.l2Distance(col("e"), col("ce")).as("d"))
        .agg(sum(col("d") * col("d"))).as[Double].head()
    }
    // the INIT itself: first-k seeds (ids 0,1 — both in A) leave B's
    // mass at squared-distance ~2 from every centroid; the scalable init
    // covers both clusters, so its seed-stage SSE is decisively lower.
    // (Post-Lloyd both can converge to the optimum on a toy fixture —
    // the degenerate near-identical first-k seeds split A and hand B a
    // centroid — so the init is where the guarantee lives; Lloyd from
    // the better init must simply never END worse.)
    val naiveSeeds = df.orderBy("vec_id").limit(2)
    val scalableSeeds = Similarity.scalableInitCentroids(df, k = 2, rounds = 2, l = 4)
    assert(sse(scalableSeeds) < sse(naiveSeeds) / 10,
      s"seed-stage SSE ${sse(scalableSeeds)} not decisively below ${sse(naiveSeeds)}")
    val principled = sse(Similarity.trainCentroidsFrom(
      df, scalableSeeds, iters = 3, dim = 2))
    val naive = sse(Similarity.trainCentroids(df, k = 2, iters = 3, dim = 2))
    assert(principled <= naive,
      s"k-means|| init ($principled) must never end worse than first-k ($naive)")
  }

  test("scalableInit: points already covered (zero distance) are never resampled") {
    // two exact duplicate groups: once one member is a candidate, the
    // rest of its group has d2i = 0 and the integer threshold is 0
    val df = (0L until 20L).map(i => (i, Seq(if (i < 10) 1.0 else -1.0, 0.0)))
      .toDF("vec_id", "e")
    val audit = Similarity.scalableInit(df, k = 2, rounds = 2, l = 8)
      .as[(Long, Long, Option[Long])].collect()
    // the first seed's group is fully covered from round 0 (every member
    // identical, d2i = 0, threshold 0) — it can never gain a second
    // candidate however many rounds run
    val bySeedGroup = audit.groupBy(_._1 / 10).view.mapValues(_.length).toMap
    assert(bySeedGroup.values.min == 1,
      s"the covered duplicate group grew beyond its seed: ${audit.toSeq}")
    assert(bySeedGroup.size == 2, s"far group never sampled: ${audit.toSeq}")
    // once both groups hold a candidate the potential is EXACTLY 0 and
    // further rounds are no-ops: the trajectory is identical at rounds=4
    val more = Similarity.scalableInit(df, k = 2, rounds = 4, l = 8)
      .as[(Long, Long, Option[Long])].collect()
    assert(audit.sortBy(_._1).toSeq == more.sortBy(_._1).toSeq)
    intercept[IllegalArgumentException] {
      Similarity.scalableInit(df, k = 50, rounds = 1, l = 1)
    }
  }

  test("silhouetteSimplified: closed-form s on a hand fixture; bounds; k=1 raises") {
    // centroids at the two axes; one point ON its centroid (a = 0 →
    // s = 1), one point midway between both (a = b → s = 0), and the
    // cluster members of the shared fixture in (0, 1)
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("vec_id", "e")
    val pts = Seq(
      (100L, Seq(1.0, 0.0)),   // exactly centroid 0: a = 0, s = 1
      (101L, Seq(1.0, 1.0)),   // equidistant: a = b (ties to cid 0), s = 0
      (102L, Seq(0.9, 0.1))    // clearly cluster 0, 0 < s < 1
    ).toDF("vec_id", "e")
    val out = Similarity.silhouetteSimplified(pts, cents)
      .as[(Long, Long, Double, Double)].collect()
      .map { case (cid, n, ms, mins) => cid -> ((n, ms, mins)) }.toMap
    // all three land in cluster 0 (101 ties to the lower cid)
    val (n0, mean0, min0) = out(0L)
    assert(n0 == 3L)
    // closed forms: s(100) = 1 (b = 1 − cos45° > 0, a = 0);
    // s(101) = 0 (a = b = 1 − cos45°);
    // s(102): a = 1 − cos(e,c0), b = 1 − cos(e,c1)
    val cos = (x: Seq[Double], y: Seq[Double]) => {
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val a102 = 1.0 - cos(Seq(0.9, 0.1), Seq(1.0, 0.0))
    val b102 = 1.0 - cos(Seq(0.9, 0.1), Seq(0.0, 1.0))
    val s102 = (b102 - a102) / math.max(a102, b102)
    val expMean = (1.0 + 0.0 + s102) / 3.0
    assert(math.abs(mean0 - expMean) < 1e-12, s"mean_s $mean0 != $expMean")
    assert(math.abs(min0 - 0.0) < 1e-12, s"min_s $min0 != 0 (the midway point)")
    // cosine form: own centroid is the argmax, so s ∈ [0, 1] always
    val shared = Similarity.silhouetteSimplified(vecs, vecs.filter(col("vec_id") < 2))
      .as[(Long, Long, Double, Double)].collect()
    assert(shared.forall { case (_, _, ms, mins) =>
      ms >= 0.0 && ms <= 1.0 && mins >= 0.0 && mins <= 1.0 })
    // a lone centroid has no "nearest other" — loud failure, not NULL-avg
    val err = intercept[Exception] {
      Similarity.silhouetteSimplified(pts, cents.filter(col("vec_id") === 0L))
        .collect()
    }
    assert(err.getMessage != null)
    // a NULL or size-mismatched embedding must fail NAMING THE VECTOR,
    // not surface as the misleading lone-centroid raise (ADVICE r16)
    val bad = Seq((200L, Seq(1.0, 0.0)), (201L, Seq(1.0, 0.0, 0.0)))
      .toDF("vec_id", "e")
    val err2 = intercept[Exception] {
      Similarity.silhouetteSimplified(bad, cents).collect()
    }
    val msgs = Iterator.iterate[Throwable](err2)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).mkString("|")
    assert(msgs.contains("vec_id=201"),
      s"must name the malformed vector, got: $msgs")
  }

  test("adjustedRandIndex: identity, permutation invariance, closed form, degenerate") {
    def part(rows: Seq[(Long, Long)]) = rows.toDF("id", "cid")
    // identical partitions → ARI = 1 regardless of labels
    val a = part(Seq(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
    val relabeled = part(Seq(1L -> 7L, 2L -> 7L, 3L -> 3L, 4L -> 3L, 5L -> 9L))
    val id1 = Similarity.adjustedRandIndex(a, a)
      .select("ari").as[Double].head()
    val id2 = Similarity.adjustedRandIndex(a, relabeled)
      .select("ari").as[Double].head()
    assert(math.abs(id1 - 1.0) < 1e-12 && math.abs(id2 - 1.0) < 1e-12)
    // closed form (Hubert & Arabie): n=6, A = {1,2,3|4,5,6},
    // B = {1,2|3,4,5,6} → contingency rows (2,1),(0,3):
    // sum_ij = C(2,2)+C(1,2)+C(3,2) = 1+0+3 = 4
    // sum_a = 2·C(3,2) = 6 ; sum_b = C(2,2)+C(4,2) = 7 ; C(6,2) = 15
    // E = 6·7/15 = 2.8 ; ARI = (4 − 2.8)/((6+7)/2 − 2.8) = 1.2/3.7
    val pa = part(Seq(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L, 6L -> 1L))
    val pb = part(Seq(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L))
    val row = Similarity.adjustedRandIndex(pa, pb)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(row == ((6L, 4L, 6L, 7L, row._5)))
    assert(math.abs(row._5 - 1.2 / 3.7) < 1e-12, s"ari ${row._5} != ${1.2 / 3.7}")
    // degenerate: both all-singletons → denominator 0 → 1.0 (sklearn)
    val singles = part(Seq(1L -> 1L, 2L -> 2L, 3L -> 3L))
    val deg = Similarity.adjustedRandIndex(singles, singles)
      .select("ari").as[Double].head()
    assert(deg == 1.0)
    // ids present on one side only are dropped by the inner join → n
    // reflects the intersection (the audit observable)
    val wider = part(Seq(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L, 99L -> 5L))
    val nOnly = Similarity.adjustedRandIndex(a, wider)
      .select("n").as[Long].head()
    assert(nOnly == 5L)
  }

  test("normalizedMutualInfo: identity, independence, closed form vs naive restatement") {
    def part(rows: Seq[(Long, Long)]) = rows.toDF("id", "cid")
    def nmiOf(a: Seq[(Long, Long)], b: Seq[(Long, Long)]) =
      Similarity.normalizedMutualInfo(part(a), part(b))
        .as[(Long, Double, Double, Double, Double)].head()
    // identical partitions (any labels) → NMI = 1
    val pa = Seq(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L)
    val rel = Seq(1L -> 9L, 2L -> 9L, 3L -> 4L, 4L -> 4L)
    assert(math.abs(nmiOf(pa, rel)._5 - 1.0) < 1e-12)
    // exactly independent partitions (uniform 2x2 contingency) → MI = 0
    val ind = Seq(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L)
    val (_, miI, haI, hbI, nmiI) = nmiOf(pa, ind)
    assert(math.abs(miI) < 1e-12 && math.abs(nmiI) < 1e-12)
    assert(math.abs(haI - math.log(2)) < 1e-12 && math.abs(hbI - math.log(2)) < 1e-12)
    // closed form on an asymmetric fixture, computed here via the NAIVE
    // cell-join formula the operator's factored identity replaces —
    // contingency rows (2,0),(1,3): the two routes must agree exactly
    val pb = Seq(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L)
    val qb = Seq(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L, 6L -> 1L)
    val cells = Seq((2.0, 2.0, 3.0), (1.0, 4.0, 3.0), (3.0, 4.0, 3.0))
    val n = 6.0
    val miExp = cells.map { case (nij, ai, bj) =>
      (nij / n) * math.log(nij * n / (ai * bj)) }.sum
    val hA = -Seq(2.0, 4.0).map(x => (x / n) * math.log(x / n)).sum
    val hB = -Seq(3.0, 3.0).map(x => (x / n) * math.log(x / n)).sum
    val got = nmiOf(pb, qb)
    assert(math.abs(got._2 - miExp) < 1e-12, s"mi ${got._2} != $miExp")
    assert(math.abs(got._3 - hA) < 1e-12 && math.abs(got._4 - hB) < 1e-12)
    assert(math.abs(got._5 - miExp / ((hA + hB) / 2.0)) < 1e-12)
    // degenerate: both single-cluster (necessarily identical) → 1.0
    val one = Seq(1L -> 5L, 2L -> 5L, 3L -> 5L)
    assert(nmiOf(one, one.map { case (i, _) => i -> 7L })._5 == 1.0)
  }

  test("binarySignEncode: known sign patterns pack MSB-first into positive 32-bit words") {
    // dim 64: first vector has dims {0, 33} positive → word0 = 2^31,
    // word1 = 2^30; second is all-negative → both words 0; third
    // all-positive → both words 2^32 − 1 (packed values stay positive)
    val v1 = (0 until 64).map(i => if (i == 0 || i == 33) 1.0 else -1.0)
    val v2 = Seq.fill(64)(-0.5)
    val v3 = Seq.fill(64)(0.5)
    val df = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "e")
    val got = Similarity.binarySignEncode(df, 64)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(got(0) == ((1L, Seq(1L << 31, 1L << 30))), s"got ${got(0)}")
    assert(got(1) == ((2L, Seq(0L, 0L))), s"got ${got(1)}")
    assert(got(2) == ((3L, Seq((1L << 32) - 1, (1L << 32) - 1))), s"got ${got(2)}")
    assert(got.forall(_._2.forall(w => w >= 0 && w < (1L << 32))),
      "every packed word must stay positive-exact in a long")
    intercept[IllegalArgumentException](Similarity.binarySignEncode(df, 48))
  }

  test("binaryHammingTopKReranked: mult covering the corpus equals exact cosine top-k") {
    import graft.plans.GraftFunctions
    // deterministic pseudo-random 64-dim corpus (zero-centered)
    def vec(id: Long): Seq[Double] =
      (0 until 64).map(i => math.sin(id * 37.0 + i * 13.0))
    val corpus = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "e")
    val queries = corpus.filter(col("vec_id") < 3)
    val k = 4
    // candidate cut spanning the whole corpus → the Hamming prefilter
    // cannot drop the true neighbors, so the re-rank IS brute force
    val got = Similarity.binaryHammingTopKReranked(corpus, queries, 64, k, mult = 10)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect().toSet
    val q = queries.select(col("vec_id").as("qid"), col("e").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    val brute = corpus.crossJoin(q).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        GraftFunctions.cosineSimilarity(col("qe"), col("e")).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("qid", "vec_id", "rn").as[(Long, Long, Int)].collect().toSet
    assert(got == brute, "full-coverage prefilter must reproduce exact top-k")
    // at a tight cut the prefilter really cuts: ham of survivors bounded
    val tight = Similarity.binaryHammingTopKReranked(corpus, queries, 64, k, mult = 1)
    assert(tight.groupBy("qid").count().select("count").as[Long].collect().forall(_ == k))
  }
}
