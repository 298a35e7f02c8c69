package graft

import org.apache.spark.sql.functions._

import graft.operators.{Raster, Subset}

class SubsetSpec extends SparkSpec {
  import spark.implicits._

  test("membership list+range: '0,2:5,9'") {
    val got = (0L to 10L).toDF("id")
      .filter(Subset.membership("0,2:5,9", col("id")))
      .as[Long].collect().toSet
    assert(got == Set(0L, 2L, 3L, 4L, 5L, 9L))
    // malformed parts fail loudly in the SHARED grammar (r17: membership
    // delegates to namedMembership with a throwing resolver): a trailing-
    // empty range used to silently parse as its lone index, and a name
    // token in the index-only form used to escape as NumberFormatException
    intercept[IllegalArgumentException](Subset.membership("2:", col("id")))
    intercept[IllegalArgumentException](Subset.membership(":5", col("id")))
    intercept[IllegalArgumentException](Subset.membership("FOO", col("id")))
    intercept[IllegalArgumentException](Subset.membership("", col("id")))
    // namedMembership shares the exact index grammar and adds names only
    val named = (0L to 10L).toDF("id")
      .filter(Subset.namedMembership("ALPHA,2:5", col("id"),
        name => { assert(name == "ALPHA"); 9L }))
      .as[Long].collect().toSet
    assert(named == Set(2L, 3L, 4L, 5L, 9L))
  }

  test("chanSlice python semantics: exclusive stop, stride, open ends") {
    def sel(spec: String) = (0L to 11L).toDF("pos")
      .filter(Subset.chanSlice(spec, col("pos"))).as[Long].collect().toSet
    assert(sel("2:8") == Set(2L, 3L, 4L, 5L, 6L, 7L))
    assert(sel("2:8:3") == Set(2L, 5L))
    assert(sel(":4") == Set(0L, 1L, 2L, 3L))
    assert(sel("8:") == Set(8L, 9L, 10L, 11L))
    intercept[IllegalArgumentException](Subset.chanSlice("1:2:-1", col("pos")))
  }

  test("baselines: symmetric pairs, single-antenna shorthand, bad parts rejected") {
    val pairs = (for (a <- 0L to 3L; b <- 0L to 3L) yield (a, b)).toDF("a1", "a2")
    def sel(spec: String) = pairs
      .filter(Subset.baselines(spec, col("a1"), col("a2")))
      .as[(Long, Long)].collect().toSet
    // "0-1" matches BOTH orientations — a baseline is an unordered pair
    assert(sel("0-1") == Set((0L, 1L), (1L, 0L)))
    assert(sel("0-1,2-3") == Set((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L)))
    // autocorrelation pair selects only itself
    assert(sel("2-2") == Set((2L, 2L)))
    // bare antenna = every baseline involving it (either endpoint)
    assert(sel("3") == (0L to 3L).flatMap(x => Seq((3L, x), (x, 3L))).toSet)
    intercept[IllegalArgumentException](Subset.baselines("0-1-2", col("a1"), col("a2")))
  }

  test("predicates reach the parquet scan (pushed filters)") {
    val plan = sf0001.orders
      .filter(Subset.membership("1:100", col("o_orderkey")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(o_orderkey,1)"), s"not pushed:\n$plan")
  }

  test("spread convolves a single cell into its neighborhood") {
    val raster = Seq((2, 2, 5L)).toDF("xb", "yb", "c")
    val got = Raster.spread(raster, 8, 8, radius = 1)
      .as[(Int, Int, Long)].collect().toSet
    val want = (for { x <- 1 to 3; y <- 1 to 3 } yield (x, y, 5L)).toSet
    assert(got == want)
    // corner cell: clipped to canvas
    val corner = Raster.spread(Seq((0, 0, 1L)).toDF("xb", "yb", "c"), 8, 8, 1).count()
    assert(corner == 4)
  }

  test("dynSpread: dense raster untouched, sparse raster dilates until covered") {
    import graft.operators.Raster
    // dense: every cell filled -> radius stays 0 (identity)
    val dense = (for { x <- 0 until 4; y <- 0 until 4 } yield (x, y, 1L)).toDF("xb", "yb", "c")
    assert(Raster.dynSpread(dense, 4, 4, threshold = 0.5).count() == 16)
    assert(Raster.dynSpread(dense, 4, 4, 0.5).collect().map(_.getLong(2)).sum == 16L,
      "dense raster must come back unspread (radius 0)")
    // sparse: one point in 16x16 -> grows until >= 12.5% coverage or max
    val sparse = Seq((8, 8, 1L)).toDF("xb", "yb", "c")
    val out = Raster.dynSpread(sparse, 16, 16, threshold = 0.125, maxRadius = 3)
    assert(out.count() >= 32, s"sparse point should dilate to >= 32 cells, got ${out.count()}")
  }

  test("dynSpreadDensity: dense stays sharp, near pair merges at r=1, lone point maxes out") {
    import graft.operators.Raster
    // dense full grid: every cell's nearest neighbor is at distance 1,
    // density(0) = 1 > threshold -> radius 0 -> identity
    val dense = (for { x <- 0 until 4; y <- 0 until 4 } yield (x, y, 1L)).toDF("xb", "yb", "c")
    val d = Raster.dynSpreadDensity(dense, 4, 4, threshold = 0.5, maxRadius = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(d.size == 16 && d.values.forall(_ == 1L), s"dense must come back unspread: $d")
    // two cells at Chebyshev distance 3: squares touch at radius 1
    // (2·1+1 = 3), so r = 1 is chosen — blocks 2x2 (clipped) and 3x2
    val pair = Seq((0, 0, 1L), (3, 0, 5L)).toDF("xb", "yb", "c")
    val p = Raster.dynSpreadDensity(pair, 16, 16, threshold = 0.5, maxRadius = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(p.size == 10 && p.values.sum == 4L * 1 + 6L * 5, s"pair must spread r=1: $p")
    assert(p((0, 0)) == 1L && p((2, 0)) == 5L, s"$p")
    // lone point: no radius ever qualifies -> maxRadius, clipped block
    val lone = Seq((8, 8, 1L)).toDF("xb", "yb", "c")
    val l = Raster.dynSpreadDensity(lone, 16, 16, threshold = 0.5, maxRadius = 3)
    assert(l.count() == 49 && l.collect().map(_.getLong(2)).sum == 49L,
      "a lone point must dilate by maxRadius (7x7 block)")
  }

  test("dynSpreadValue: counts dilate by sum, values composite density-weighted; untouched cells keep theirs") {
    import graft.operators.Raster
    // the q150 pair fixture with values: radius 1 is chosen (Chebyshev
    // distance 3 merges at 2r+1 = 3). Cell (0,0) c=1 v=10; (3,0) c=3
    // v=20. Overlap column x∈{} — r=1 blocks are x∈[0,1] and x∈[2,4]:
    // disjoint, so every output cell is single-source and must keep its
    // source's exact value; counts replicate
    val pair = Seq((0, 0, 1L, 10.0), (3, 0, 3L, 20.0)).toDF("xb", "yb", "c", "ared")
    val p = Raster.dynSpreadValue(pair, 16, 16, "ared", threshold = 0.5, maxRadius = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(p.size == 10, s"$p")
    assert(p((0, 0)) == (1L, 10.0) && p((1, 1)) == (1L, 10.0), s"$p")
    assert(p((3, 0)) == (3L, 20.0) && p((4, 1)) == (3L, 20.0), s"$p")
    // adjacent sources at distance 1 also choose r... = 0? distance 1
    // merges at r=0 (2·0+1 = 1): identity — then force overlap with a
    // distance-2 pair, which merges at r=1 too (2 ≤ 3): the shared
    // column x=1 blends 10 and 20 weighted by counts 1 and 3 → 17.5
    val near = Seq((0, 0, 1L, 10.0), (2, 0, 3L, 20.0)).toDF("xb", "yb", "c", "ared")
    val n = Raster.dynSpreadValue(near, 16, 16, "ared", threshold = 0.5, maxRadius = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(n((1, 0)) == (4L, 17.5), s"shared cell must blend density-weighted: $n")
    assert(n((0, 0)) == (1L, 10.0) && n((3, 0)) == (3L, 20.0), s"$n")
    // a NULL value carries no weight: blending NULL with 20 yields 20
    val withNull = Seq((0, 0, 1L, Option.empty[Double]), (2, 0, 3L, Some(20.0)))
      .toDF("xb", "yb", "c", "ared")
    val w = Raster.dynSpreadValue(withNull, 16, 16, "ared", threshold = 0.5, maxRadius = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(w((1, 0)) == (4L, Some(20.0)), s"NULL source must carry no weight: $w")
    assert(w((0, 0)) == (1L, None), s"an all-NULL cell stays NULL: $w")
  }

  test("dynSpreadCat: radius from occupied cells, per-category sum dilation") {
    import graft.operators.Raster
    // two categories sharing cell (0,0) plus a lone 'b' at (3,0):
    // occupied cells are {(0,0), (3,0)} — distance 3, radius 1. Each
    // category dilates independently
    val cat = Seq((0, 0, "a", 2L), (0, 0, "b", 1L), (3, 0, "b", 5L))
      .toDF("xb", "yb", "cat", "c")
    val out = Raster.dynSpreadCat(cat, 16, 16, threshold = 0.5, maxRadius = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)) -> r.getLong(3)).toMap
    // 'a' spreads its 2x2 clipped block from (0,0); 'b' has both sources
    assert(out((0, 0, "a")) == 2L && out((1, 1, "a")) == 2L)
    assert(!out.contains((2, 0, "a")), s"'a' must not reach x=2: $out")
    assert(out((0, 0, "b")) == 1L && out((3, 0, "b")) == 5L && out((4, 1, "b")) == 5L)
    // per-category mass = original × block size (4 for clipped, 6 for inner)
    val mass = out.toSeq.groupBy(_._1._3).view.mapValues(_.map(_._2).sum).toMap
    assert(mass("a") == 8L && mass("b") == 4L + 30L, s"$mass")
    // a --colour-by --ared raster carries a value column: it composites
    // density-weighted WITHIN the category instead of being dropped
    val catV = Seq((0, 0, "a", 2L, 10.0), (2, 0, "a", 2L, 30.0), (3, 0, "b", 5L, 7.0))
      .toDF("xb", "yb", "cat", "c", "ared")
    val outV = Raster.dynSpreadCat(catV, 16, 16, valueCol = Some("ared"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    // occupied cells (0,0),(2,0),(3,0): min distance 1 -> radius 0?
    // distance 1 merges at 2r+1 >= 1 -> r = 0 -> identity; values intact
    assert(outV((0, 0, "a")) == (2L, 10.0) && outV((3, 0, "b")) == (5L, 7.0), s"$outV")
    // force a blend: two same-category sources at distance 2 (r = 1)
    val blend = Seq((0, 0, "a", 1L, 10.0), (2, 0, "a", 3L, 20.0))
      .toDF("xb", "yb", "cat", "c", "ared")
    val outB = Raster.dynSpreadCat(blend, 16, 16, valueCol = Some("ared"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    assert(outB((1, 0, "a")) == (4L, 17.5), s"within-category blend: $outB")
  }

  test("Engine.open registers the catalog for free-form SQL (TaQL passthrough)") {
    Engine.open(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      "SELECT count(*) FROM lineitem WHERE l_quantity > 49 AND l_returnflag <> 'R'")
      .head().getLong(0)
    assert(n > 0)
    val ev = spark.sql("SELECT min(ts) FROM events").head().getTimestamp(0)
    assert(ev.toString.startsWith("2024-01-01"), s"events view must read 2024 µs timestamps, got $ev")
  }
}
