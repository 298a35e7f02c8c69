package graft

import java.nio.file.{Files, Paths}


/** ROUNDING-BOUNDARY FRAGILITY SWEEP (VERDICT r17 #2, systemic follow-up
  * to the q170 hash flip): every gated query hashes `%.6g`/`round(·,k)`
  * values computed from float aggregates whose unrounded result can
  * jitter with partial-aggregate merge order (~n·ε relative). A value
  * sitting closer to a rounding boundary than that jitter is a latent
  * driver-red coin flip. This harness turns "hope" into a checked
  * invariant, two ways per query:
  *
  *  1. ANALYTIC margin, PER SCALE: for each portable-rounding scale k
  *     the registry uses, re-runs the query with
  *     `Rounding.bypassing(k)` (Rounding.portable passes scale-k
  *     calls through unrounded; other scales round normally), and for
  *     every finite double of every column THAT ACTUALLY ROUNDS AT k
  *     (r19: established per column by bit-diffing the rounded result
  *     against the bypass result — a column rounded at another scale is
  *     bit-identical under bypass-at-k and skipped) reports the distance
  *     to the nearest scale-k flip boundary (half-grid points of 10^-k)
  *     against a merge-jitter bound `N·ε·max(1,|u|)` (N = 10⁵ — a
  *     generous per-group accumulation length at sf0.01, where the
  *     largest gated groups fold ~6·10⁴ rows; ε = 2⁻⁵²), and against
  *     the cross-engine round()-RULE disagreement window
  *     ([[RuleExposure]] → `round_semantics_exposed`). Caveat documented here
  *     and adjudicated in ROUND_NOTES: an EXACT value (integer moments,
  *     bin midpoints, rationals of counts) that legitimately sits near
  *     a boundary shows a small margin without being fragile — which is
  *     why the second leg exists.
  *  2. EMPIRICAL stability: runs the REAL gated query (rounding on)
  *     under two different shuffle-partition settings — different
  *     partial counts, different merge topology — and requires one
  *     identical canonical md5. An order-sensitive gate fails HERE
  *     regardless of where its values sit.
  *
  * Output: docs/ROUNDING_MARGINS.json — per query the min margin, the
  * worst margin/bound ratio, double count, and hash stability; summary
  * lists any unstable or sub-bound queries. Exit 1 if any query is
  * hash-unstable (the definitive signal). Usage:
  *   sbt "runMain graft.RoundingMargins [sfDir] [outPath]"
  */
object RoundingMargins {

  private val Eps = math.ulp(1.0) // 2^-52
  private val JitterRows = 100000L

  /** ROUND-SEMANTICS EXPOSURE BOUND (VERDICT r18 #2), in ulps of the
    * SCALED value: `round(DOUBLE, k)` is implementation-defined across
    * oracle engines/versions — DuckDB 1.0 rounds the scaled double
    * (`std::round(x·10^k)`, the rule [[graft.functions.Rounding.portable]]
    * replicates), later releases round the decimal expansion (the
    * shortest-decimal-string rule Spark's own `round` uses). The two
    * algorithms agree everywhere EXCEPT when the pre-round double sits
    * within representation error of an exact half-grid decimal — the
    * `round(0.285, 2)` class, where 0.285 stores as 0.28499…98 so the
    * scaled rule says 0.28 and the string rule says 0.29. That
    * disagreement window is ulp-scale by construction: |u − boundary| ≤
    * ~0.5·ulp(u) for the nearest-double case plus ~1 ulp of scaling
    * error. The sweep flags any hashed rounded column whose pre-round
    * value sits within `RuleExposureUlps · ulp(|u|·10^k) / 10^k` of a
    * boundary (8 ulps = 8× the worst case — generous without
    * swallowing the order-statistics tail a 1000-row float dag
    * legitimately produces at ~grid/2N). A flagged gate's hash depends
    * on WHICH rounding algorithm the oracle engine ships, and the
    * terminal fix is the r19 q170 conversion: take the double out of
    * the hash path (emit the exact integer state). A foreign-oracle red
    * OUTSIDE this window is not a rounding-RULE artifact — it is an
    * engine-side value difference, governed by the jitter leg and the
    * adjudication table. */
  private val RuleExposureUlps = 8.0

  /** ADJUDICATED GATES: queries whose pre-round doubles are NOT
    * float-aggregated — they are fixed dags over exact integers/counts
    * (merge-order-immune by construction), so the generic `N·ε` jitter
    * bound does not apply; their effective merge length is the value
    * given here (0 = fully exact). Every entry carries its
    * justification and is re-checked by the empirical stability leg
    * like everything else. Keep this list TIGHT: an entry is a reviewed
    * claim, not an exemption. */
  val adjudicated: Map[String, (Long, String)] = Map(
    "q02_filter_flagmask" -> (0L,
      "exact integer-cent sum (Rounding.sumExact, r18 conversion)"),
    "q05_group_stats" -> (0L,
      "exact integer-grid sum/avg/charge moments (r18 conversion)"),
    "q07_raster2d_mean" -> (0L,
      "exact integer-cent mean; max is order-immune (r18 conversion)"),
    "q58_unpivot" -> (0L,
      "exact integer-cent sums for all three measures (r18 conversion)"),
    "q10_eqhist_cumedist" -> (0L,
      "cume_dist emits exact rank/total rationals; no float aggregation"),
    "q55_array_hof" -> (0L,
      "in-row HOF fold in fixed per-row order; no cross-row float sum"),
    "q111_sketch_novelty" -> (0L,
      "KMV estimate is a fixed dag of the order-immune max/bottom-k hashes"),
    "q115_gopher_gate" -> (0L,
      "in-row integer counts and their rationals; no float aggregation"),
    "q176_audio_features" -> (0L,
      "rms/zcr are fixed dags of exact integer codec accumulators"),
    "q114_temperature_mixture" -> (64L,
      "only float merge is the <= #strata-term pow-weight sum; 64 >> strata"),
    "q164_weighted_sample" -> (0L,
      "wkey9 is a PER-ROW fixed dag (md5-derived u, one ln, one divide) — " +
        "no cross-row float aggregation anywhere, so there is no " +
        "merge-order freedom for the jitter bound to model; the one " +
        "cross-engine liberty is libm ln (<= 1 ulp, ~1e-16 relative), " +
        "five orders below the observed 2.8e-11 relative margin; the " +
        "oracle mirrors the dag verbatim (r19, VERDICT r18 #4)"))

  /** Distance from `u` to the nearest value where a portable round at
    * scale k changes output (half-grid points of 10^-k). */
  private[graft] def boundaryDistance(u: Double, k: Int): Double = {
    val p = math.pow(10.0, k.toDouble)
    val scaled = u * p
    val frac = scaled - math.rint(scaled) // in [-0.5, 0.5]
    (0.5 - math.abs(frac)) / p
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.drop(1).headOption.getOrElse("docs/ROUNDING_MARGINS.json")
    val cpus = Engine.cpus.toString
    val spark = Engine.session(Engine.localMaster, shufflePartitions = Engine.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val only: String => Boolean = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(re) => val r = re.r; s => r.findFirstIn(s).isDefined
      case None => _ => true
    }
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(only)
    val results = names.map { name =>
      val q = SparkEntry.queries(name)
      // empirical leg: same query, two merge topologies, one md5 —
      // rows SORTED before hashing (the driver's canon protocol sorts
      // rows, so a tie in a presentation order must not read as
      // instability). Cache + memo handles are dropped per run: a
      // memo-consuming gate compared against its own FIRST run's cached
      // pair/component/centroid tables would never vary the merge
      // topology of the floats inside the memo — exactly the
      // instability this leg exists to catch (review r18).
      def md5At(parts: String): String = {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        spark.sharedState.cacheManager.clearCache()
        Tables.clearPairCache()
        try {
          val body = q(spark, sfDir).collect().map(Canon.row).sorted.mkString("\n")
          java.security.MessageDigest.getInstance("MD5")
            .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
        } finally spark.conf.set("spark.sql.shuffle.partitions", cpus)
      }
      val (h1, h2) = (md5At("3"), md5At("31"))
      val stable = h1 == h2
      // analytic leg: per rounding scale, the unrounded doubles of the
      // columns rounded AT that scale; per-value jitter bound
      // N·ε·max(1,|u|), tracked as the worst margin/bound RATIO
      // discover which scales this query rounds at. Construction-time
      // for most queries — but NOT free for eager-construction ones
      // (checkpointed presentation sorts, trained-model chains,
      // reference-artifact collects run IN FULL here), so the discovery
      // pass costs up to one extra execution for that minority
      val scales =
        graft.functions.Rounding.recordingScales(q(spark, sfDir)).toSeq.sorted
      val jitterN = adjudicated.get(name).map(_._1)
        .getOrElse(JitterRows).toDouble
      var minMargin = Double.MaxValue
      var minRatio = Double.MaxValue
      var nDoubles = 0L
      val exposed = scala.collection.mutable.ListBuffer[String]()
      // r19 (ADVICE r18): a column is judged against grid k only when
      // it ACTUALLY rounds at k — established by diffing the REAL
      // (rounded) result against the bypass-at-k result per column, as
      // bit-multisets (order/NaN/-0.0-proof). A column rounded at some
      // other scale j is bit-identical under bypass-at-k and is
      // skipped, killing the false sub-bound source (q05's scale-4
      // `ap` judged against a scale-2 grid it never rounds to).
      // r20 (ADVICE r19): "any difference" was still too loose — an
      // UNROUNDED float column whose values shift by merge-order jitter
      // between the real and bypass executions also differs, and was
      // judged against a grid it never rounds to. The diff now demands
      // the positive relation too: round_k(bypass values) must equal
      // the real values as bit-multisets (the bypass values ROUND TO
      // the real values), so jitter-only diffs stay excluded. Columns
      // derived downstream of a rounded subexpression (none in-tree —
      // gates round at presentation) would no longer be judged; if one
      // ever appears, its round must move to presentation to be judged.
      def colBits(rows: Array[org.apache.spark.sql.Row], i: Int): Seq[Long] =
        rows.iterator.map(_.get(i)).collect {
          case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
        }.toSeq.sorted
      // JVM replica of Rounding.portable's scaled-double form: Spark's
      // integer-scale round(s) is half-away-from-zero on every double
      // where a .5 fraction is representable (< 2^52; above, s is
      // already integral) — see Rounding.scala's portability argument.
      def portableK(d: Double, k: Int): Double = {
        if (d.isNaN || d.isInfinite) return d
        val p = math.pow(10.0, k.toDouble)
        val s = d * p
        val r = if (math.abs(s) >= 4503599627370496.0 /* 2^52 */) s
                else math.signum(s) * math.floor(math.abs(s) + 0.5)
        r / p
      }
      if (scales.nonEmpty) {
        val realDf = q(spark, sfDir)
        val cols = realDf.columns
        val realRows = realDf.collect()
        val realBits = cols.indices.map(colBits(realRows, _))
        scales.foreach { k =>
          val bypassRows =
            graft.functions.Rounding.bypassing(k)(q(spark, sfDir)).collect()
          cols.indices.foreach { i =>
            val bypassed = bypassRows.iterator.map(_.get(i)).collect {
              case d: java.lang.Double => d.doubleValue
            }.toSeq
            // rounds-at-k = raw multisets differ AND rounding the
            // bypass values at k reproduces the real multiset
            val roundedBypassBits = bypassed
              .map(d => java.lang.Double.doubleToLongBits(portableK(d, k)))
              .sorted
            val changed = bypassed.nonEmpty &&
              colBits(bypassRows, i) != realBits(i) &&
              roundedBypassBits == realBits(i)
            if (changed) bypassed.foreach { d =>
              if (!d.isNaN && !d.isInfinite) {
                nDoubles += 1
                val dist = boundaryDistance(d, k)
                val boundU = jitterN * Eps * math.max(1.0, math.abs(d))
                val ratio = if (boundU == 0.0) Double.MaxValue else dist / boundU
                if (dist < minMargin) minMargin = dist
                if (ratio < minRatio) minRatio = ratio
                val p = math.pow(10.0, k.toDouble)
                if (dist < RuleExposureUlps *
                    math.ulp(math.max(1.0, math.abs(d)) * p) / p)
                  exposed += s"${cols(i)}@$k"
              }
            }
          }
        }
      }
      if (nDoubles == 0) { minMargin = Double.MaxValue; minRatio = Double.MaxValue }
      val subBound = minRatio < 1.0
      val exposedCols = exposed.distinct.sorted.toSeq
      println(f"[margins] $name%-32s stable=$stable%-5s doubles=$nDoubles%-6d " +
        f"min_margin=$minMargin%.3e ratio=$minRatio%.3e" +
        (if (exposedCols.nonEmpty) s" EXPOSED=${exposedCols.mkString(",")}" else ""))
      (name, stable, minMargin, nDoubles, minRatio, subBound, exposedCols)
    }
    val unstable = results.filter(!_._2).map(_._1)
    val sub = results.filter(_._6).map(_._1)
    val exposedAll = results.filter(_._7.nonEmpty).map(r => r._1 -> r._7)
    val json = new StringBuilder
    json.append("{\n  \"jitter_rows\": ").append(JitterRows)
      .append(", \"epsilon\": ").append(Eps)
      .append(", \"rule_exposure_ulps\": ").append(RuleExposureUlps)
      .append(", \"sf\": \"").append(sfDir).append("\",\n")
    json.append("  \"unstable_across_partitionings\": [")
      .append(unstable.map("\"" + _ + "\"").mkString(", ")).append("],\n")
    json.append("  \"sub_bound_margins\": [")
      .append(sub.map("\"" + _ + "\"").mkString(", ")).append("],\n")
    // hashed post-round DOUBLE columns whose pre-round value sits inside
    // the cross-engine round()-rule disagreement window — each entry is
    // a conversion/adjudication work item (VERDICT r18 #2); empty = no
    // gate's hash depends on any engine's rounding algorithm choice
    json.append("  \"round_semantics_exposed\": {")
      .append(exposedAll.map { case (n, cs) =>
        s""""$n": [${cs.map("\"" + _ + "\"").mkString(", ")}]"""
      }.mkString(", ")).append("},\n")
    json.append("  \"adjudicated\": {\n")
    json.append(adjudicated.toSeq.sortBy(_._1).map { case (n, (k, why)) =>
      s"""    "$n": {"n_terms": $k, "why": "$why"}"""
    }.mkString(",\n"))
    json.append("\n  },\n")
    json.append("  \"queries\": {\n")
    json.append(results.map { case (n, st, m, nd, ratio, _, exp) =>
      f"""    "$n": {"hash_stable": $st, "n_doubles": $nd, """ +
        f""""min_margin": $m%.6e, "margin_over_bound": $ratio%.6e, """ +
        s""""exposed": [${exp.map("\"" + _ + "\"").mkString(", ")}]}"""
    }.mkString(",\n"))
    json.append("\n  }\n}\n")
    Files.writeString(Paths.get(out), json.toString)
    println(s"[margins] wrote ${results.size} queries to $out; " +
      s"unstable=${unstable.size} sub_bound=${sub.size} " +
      s"exposed=${exposedAll.size}")
    spark.stop()
    if (unstable.nonEmpty) sys.exit(1)
  }
}
