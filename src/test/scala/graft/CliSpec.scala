package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{avg, expr, lit, max}

import graft.operators.{Canvas, ShadePlot}
import graft.operators.ShadePlot.PlotSpec

/** Drives the shadems-equivalent CLI end-to-end on fixture data. */
class CliSpec extends SparkSpec {

  private def tmp(name: String) =
    Files.createTempDirectory("cli").resolve(name).toString

  private val sf = "/root/testdata/sf0.001"
  private def bytes(path: String): Array[Byte] = Files.readAllBytes(Paths.get(path))

  /** A raster parquet's cells, one sorted string per row. */
  private def cells(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.toSeq.mkString(",")).toSeq.sorted

  /** How many times `body` reads the files of `table`: the distinct file
    * scans of that table in the executed plans of its actions
    * ([[ActionPlans]]), looking through cached relations into the plan
    * that built them (a cache is one scan however many actions read
    * it). */
  private def tableScans(table: String)(body: => Unit): Int = {
    object aqe extends AdaptiveSparkPlanHelper
    def scans(plan: SparkPlan): Seq[FileSourceScanExec] = aqe.collect(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == s"$table.parquet") => Seq(s)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    }.flatten
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean])
    ActionPlans(spark)(body)._2.flatMap(a => scans(a._2)).foreach(seen.add)
    seen.size
  }

  test("one plot reads its source once for the range and once for the raster") {
    val base = Seq("--dir", sf, "--table", "lineitem",
      "-x", "l_quantity", "-y", "l_extendedprice", "--width", "32", "--height", "32")
    def scansOf(extra: String*): Int = tableScans("lineitem") { Cli.run(base ++ extra, spark); () }
    assert(scansOf("--png", tmp("p.png"), "--out", tmp("r")) == 2,
      "single plot: one range scan, one raster scan")
    assert(scansOf("--xmin", "0", "--xmax", "51", "--ymin", "900", "--ymax", "105000",
      "--png", tmp("p.png"), "--out", tmp("r")) == 1, "all four bounds given: raster scan only")
    assert(scansOf("--iter", "l_linestatus", "--png", tmp("i_{}.png"), "--out", tmp("i")) == 2,
      "--iter: one range scan, one grouped raster scan")
    val batch = tableScans("lineitem") {
      Cli.run(Seq("--dir", sf, "--table", "lineitem", "--width", "32", "--height", "32",
        "--plot", s"x:l_quantity;y:l_extendedprice;png:${tmp("b0.png")};out:${tmp("b0")}",
        "--plot", s"x:l_discount;y:l_tax;norm:log;png:${tmp("b1.png")};out:${tmp("b1")}"), spark)
      ()
    }
    assert(batch == 1, "a --plot batch reads the table once, into its projection")
  }

  test("collecting the raster once leaves the PNG, the raster cells and the count unchanged") {
    Engine.open(spark, sf)
    val li = spark.table("lineitem")
    /** Renders `spec` from the uncollected frame, every sink evaluating
      * the raster anew; returns its cell count. */
    def reference(spec: PlotSpec, out: String, png: String, cmap: String = "fire"): Long = {
      val raster = ShadePlot.raster(li, spec)
      val shaded = if (spec.colourBy.isEmpty) ShadePlot.shade(raster, spec) else raster
      shaded.coalesce(1).write.mode("overwrite").parquet(out)
      if (spec.colourBy.nonEmpty) ShadePlot.writePngCategorical(shaded, spec, png)
      else ShadePlot.writePng(shaded, spec, png, cmap)
      shaded.count()
    }
    def auto(x: String, y: String, w: Int, h: Int) = Canvas.auto(li, expr(x), expr(y), w, h)
    val cases: Seq[(String, Seq[String], PlotSpec)] = Seq(
      ("count/eq_hist --conj",
        Seq("-x", "l_quantity", "-y", "l_extendedprice", "--conj", "--width", "48", "--height", "40"),
        PlotSpec(expr("l_quantity"), expr("l_extendedprice"),
          auto("l_quantity", "l_extendedprice", 48, 40), conjugate = true)),
      ("--ared mean",
        Seq("-x", "l_discount", "-y", "l_quantity", "--aaxis", "l_tax", "--ared", "mean",
          "--flag-col", "l_returnflag = 'R'", "--norm", "cbrt", "--width", "24", "--height", "24"),
        PlotSpec(expr("l_discount"), expr("l_quantity"), auto("l_discount", "l_quantity", 24, 24),
          reduction = Seq(avg(expr("l_tax")).as("ared")),
          flagMask = Some(expr("l_returnflag = 'R'")), norm = "cbrt")),
      ("--colour-by",
        Seq("-x", "l_quantity", "-y", "l_extendedprice", "--colour-by", "l_linestatus",
          "--xmin", "0", "--xmax", "51", "--ymin", "900", "--ymax", "105000",
          "--width", "32", "--height", "32"),
        PlotSpec(expr("l_quantity"), expr("l_extendedprice"),
          Canvas(32, 32, (0.0, 51.0), (900.0, 105000.0)), colourBy = Some(expr("l_linestatus")))))
    for ((name, argv, spec) <- cases) {
      val (refOut, refPng) = (tmp("ref"), tmp("ref.png"))
      val refCells = reference(spec, refOut, refPng)
      val (out, png) = (tmp("out"), tmp("out.png"))
      val got = Cli.run(Seq("--dir", sf, "--table", "lineitem", "--png", png, "--out", out) ++ argv, spark)
      assert(java.util.Arrays.equals(bytes(png), bytes(refPng)), s"$name: PNG bytes differ")
      assert(cells(out) == cells(refOut), s"$name: raster cells differ")
      assert(got == spark.read.parquet(out).count() && got == refCells, s"$name: cell count $got")
    }
    // the sink subsets: raster only, PNG only, neither
    val (argv, spec) = (cases.head._2, cases.head._3)
    val (refOut, refPng) = (tmp("ref"), tmp("ref.png"))
    val refCells = reference(spec, refOut, refPng)
    val outOnly = tmp("outonly")
    assert(Cli.run(Seq("--dir", sf, "--table", "lineitem", "--out", outOnly) ++ argv, spark) == refCells)
    assert(cells(outOnly) == cells(refOut), "no --png: raster cells differ")
    val pngOnly = tmp("pngonly.png")
    assert(Cli.run(Seq("--dir", sf, "--table", "lineitem", "--png", pngOnly) ++ argv, spark) == refCells)
    assert(java.util.Arrays.equals(bytes(pngOnly), bytes(refPng)), "no --out: PNG bytes differ")
    assert(Cli.run(Seq("--dir", sf, "--table", "lineitem") ++ argv, spark) == refCells)

    // a --plot batch: each plot as rendered alone from the table
    val plots = Seq(
      ("x:l_quantity;y:l_extendedprice;norm:log",
        PlotSpec(expr("l_quantity"), expr("l_extendedprice"),
          auto("l_quantity", "l_extendedprice", 40, 32), norm = "log")),
      ("x:l_discount;y:l_tax;ared:max;aaxis:l_quantity;cmap:viridis",
        PlotSpec(expr("l_discount"), expr("l_tax"), auto("l_discount", "l_tax", 40, 32),
          reduction = Seq(max(expr("l_quantity")).as("ared")))))
    val outs = plots.indices.map(i => (tmp(s"b$i"), tmp(s"b$i.png")))
    val total = Cli.run(Seq("--dir", sf, "--table", "lineitem", "--width", "40", "--height", "32") ++
      plots.zip(outs).flatMap { case ((p, _), (o, png)) => Seq("--plot", s"$p;out:$o;png:$png") }, spark)
    plots.zip(outs).zipWithIndex.foreach { case (((p, spec), (o, png)), i) =>
      val (refOut, refPng) = (tmp("ref"), tmp("ref.png"))
      reference(spec, refOut, refPng, if (p.contains("viridis")) "viridis" else "fire")
      assert(java.util.Arrays.equals(bytes(png), bytes(refPng)), s"batch plot $i: PNG bytes differ")
      assert(cells(o) == cells(refOut), s"batch plot $i: raster cells differ")
    }
    assert(total == outs.map { case (o, _) => spark.read.parquet(o).count() }.sum)
  }

  test("--iter PNGs equal the single-plot render of each group") {
    def bounds(xmax: Int, w: Int, h: Int) = Seq("-x", "l_quantity", "-y", "l_extendedprice",
      "--xmin", "0", "--xmax", s"$xmax", "--ymin", "900", "--ymax", "105000",
      "--width", s"$w", "--height", s"$h")
    // the 3-cell canvas puts an eq_hist shade at exactly 1/3, where the
    // 6-decimal rounding moves the fire colormap's red channel 255 → 254
    for ((norm, bounds) <- Seq(("eq_hist", bounds(51, 24, 24)), ("log", bounds(51, 24, 24)),
        ("eq_hist", bounds(75, 3, 1)))) {
      val (out, tmpl) = (tmp("iter"), tmp("iter_{}.png"))
      val got = Cli.run(Seq("--dir", sf, "--table", "lineitem", "--norm", norm,
        "--iter", "l_linestatus", "--png", tmpl, "--out", out) ++ bounds, spark)
      assert(got == spark.read.parquet(out).count())
      for (g <- Seq("F", "O")) {
        val single = tmp(s"single_$g.png")
        Cli.run(Seq("--dir", sf, "--table", "lineitem", "--norm", norm,
          "--where", s"l_linestatus = '$g'", "--png", single) ++ bounds, spark)
        assert(java.util.Arrays.equals(bytes(tmpl.replace("{}", g)), bytes(single)),
          s"$norm: group $g PNG differs from its single plot")
      }
    }
  }

  test("flagship: auto-ranged eq_hist plot with png + raster outputs") {
    val png = tmp("plot.png")
    val out = tmp("raster")
    val cells = Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "-x", "l_quantity", "-y", "l_extendedprice",
      "--width", "64", "--height", "64",
      "--png", png, "--out", out), spark)
    assert(cells > 0)
    assert(new java.io.File(png).length() > 0)
    val raster = spark.read.parquet(out)
    assert(raster.count() == cells)
    assert(raster.columns.toSeq == Seq("xb", "yb", "c", "shade"))
  }

  test("derived-expression axes with --where and explicit ranges (amp analog)") {
    val out = tmp("amp")
    val cells = Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "-x", "sqrt(l_discount*l_discount + l_tax*l_tax)", "-y", "l_quantity",
      "--where", "l_orderkey % 2 = 0",
      "--xmin", "0", "--xmax", "0.2", "--ymin", "0", "--ymax", "50",
      "--width", "32", "--height", "32", "--out", out), spark)
    assert(cells > 0 && cells <= 32L * 32L)
  }

  test("categorical colour-by composite png") {
    val png = tmp("cat.png")
    val cells = Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "-x", "l_quantity", "-y", "l_extendedprice",
      "--colour-by", "l_returnflag",
      "--width", "16", "--height", "16", "--png", png), spark)
    assert(cells > 0)
    assert(new java.io.File(png).length() > 0)
  }

  test("--ared mean reduction and --iter per-group partitioned output") {
    val out = tmp("iter")
    val cells = Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "-x", "l_quantity", "-y", "l_extendedprice",
      "--aaxis", "l_tax", "--ared", "mean",
      "--iter", "l_linestatus",
      "--width", "16", "--height", "16", "--out", out), spark)
    assert(cells > 0)
    val groups = new java.io.File(out).listFiles.map(_.getName)
      .filter(_.startsWith("grp=")).toSet
    assert(groups == Set("grp=F", "grp=O"))
    assert(spark.read.parquet(out).columns.contains("ared"))
  }

  test("--iter with --png writes one PNG per group") {
    val out = tmp("iterpng")
    val png = tmp("iter_{}.png")
    val cells = Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "-x", "l_quantity", "-y", "l_extendedprice",
      "--iter", "l_linestatus",
      "--width", "16", "--height", "16", "--out", out, "--png", png), spark)
    assert(cells > 0)
    for (g <- Seq("F", "O")) {
      val f = new java.io.File(png.replace("{}", g))
      assert(f.length() > 0, s"per-group png for $g must be written")
    }
    // without a {} token the group lands before the extension
    assert(graft.operators.ShadePlot.pngPathForGroup("/tmp/a/p.png", "O") == "/tmp/a/p_O.png")
    assert(graft.operators.ShadePlot.pngPathForGroup("/tmp/a.dir/p", "O") == "/tmp/a.dir/p_O")
    // a sanitized group value gets a short hash of the ORIGINAL value so
    // distinct groups can never collapse onto one filename
    assert(graft.operators.ShadePlot.pngPathForGroup("/t/p.png", "x y") == "/t/p_x_y-c8d1ae92.png")
    assert(graft.operators.ShadePlot.pngPathForGroup("/t/p.png", "a/b") !=
      graft.operators.ShadePlot.pngPathForGroup("/t/p.png", "a_b"))
    assert(graft.operators.ShadePlot.pngPathForGroup("/t/p.png", "a b") !=
      graft.operators.ShadePlot.pngPathForGroup("/t/p.png", "a/b"))
  }

  test("misspelled options, order-less first/last, and partial ranges are handled") {
    intercept[IllegalArgumentException](Cli.parse(Seq("--widht", "64")))
    intercept[IllegalArgumentException] {
      Cli.run(Seq(
        "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
        "-x", "l_quantity", "-y", "l_extendedprice",
        "--aaxis", "l_tax", "--ared", "first",
        "--width", "8", "--height", "8"), spark)
    }
    // a partial range must be honored, not silently dropped: clamp x to
    // a narrow window and the x-bins collapse accordingly
    val out = tmp("partial")
    Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "-x", "l_quantity", "-y", "l_extendedprice",
      "--xmin", "0", "--xmax", "1",
      "--width", "8", "--height", "8", "--out", out), spark)
    val xbs = spark.read.parquet(out).select("xb").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(xbs.subsetOf(Set(0, 7)),
      s"with x clamped to [0,1), quantities >= 1 must pile into the edge bins, got $xbs")
  }

  test("--ant/--baseline/--chan selectors ≡ their --where equivalents, end to end") {
    def cells(extra: String*): Long = Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "-x", "l_quantity", "-y", "l_extendedprice",
      "--width", "32", "--height", "32",
      "--xmin", "0", "--xmax", "60", "--ymin", "0", "--ymax", "120000") ++ extra,
      spark)
    // --ant list+range on a named column == the expanded predicate
    val ant = cells("--ant", "1,3:5", "--ant-col", "l_linenumber")
    val antWhere = cells("--where",
      "l_linenumber = 1 OR (l_linenumber >= 3 AND l_linenumber <= 5)")
    assert(ant == antWhere && ant > 0)
    // either-endpoint form: ant1-col OR ant2-col membership
    val ant2 = cells("--ant", "2", "--ant1-col", "l_linenumber",
      "--ant2-col", "cast(l_suppkey % 7 as bigint)")
    val ant2Where = cells("--where", "l_linenumber = 2 OR l_suppkey % 7 = 2")
    assert(ant2 == ant2Where && ant2 > 0)
    // --baseline symmetric pairs over two endpoint expressions
    val bl = cells("--baseline", "0-1,2-2",
      "--ant1-col", "cast(l_linenumber % 3 as bigint)",
      "--ant2-col", "cast(l_suppkey % 3 as bigint)")
    val blWhere = cells("--where",
      "(l_linenumber % 3 = 0 AND l_suppkey % 3 = 1) OR " +
      "(l_linenumber % 3 = 1 AND l_suppkey % 3 = 0) OR " +
      "(l_linenumber % 3 = 2 AND l_suppkey % 3 = 2)")
    assert(bl == blWhere && bl > 0)
    // --chan python slice over a 0-based position expression
    val ch = cells("--chan", "0:4:2", "--chan-col", "l_linenumber - 1")
    val chWhere = cells("--where", "l_linenumber = 1 OR l_linenumber = 3")
    assert(ch == chWhere && ch > 0)
    // selectors COMPOSE with --where by conjunction
    val comp = cells("--ant", "1,2", "--ant-col", "l_linenumber",
      "--where", "l_quantity > 10")
    val compWhere = cells("--where",
      "(l_linenumber = 1 OR l_linenumber = 2) AND l_quantity > 10")
    assert(comp == compWhere && comp > 0)
    // missing target columns are rejected loudly, not defaulted
    intercept[IllegalArgumentException](cells("--ant", "1"))
    intercept[IllegalArgumentException](cells("--baseline", "0-1"))
    intercept[IllegalArgumentException](cells("--chan", "0:4"))
  }

  test("--field/--scan/--spw/--corr named selectors ≡ --where, names via the dim table") {
    def cells(table: String, x: String, y: String, extra: String*): Long = Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", table,
      "-x", x, "-y", y, "--width", "16", "--height", "16",
      "--xmin", "0", "--xmax", "60", "--ymin", "-1000", "--ymax", "10000") ++ extra,
      spark)
    // pick a real (name, id) from the dimension itself, so the --where
    // twin never hardcodes what the resolver must derive
    val (natName, natId) = {
      val r = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        .selectExpr("n_name", "cast(n_nationkey as bigint)")
        .orderBy("n_name").collect().head
      (r.getString(0), r.getLong(1))
    }
    // mixed name + index-range spec on a fact-table key
    val f = cells("customer", "c_custkey % 50", "c_acctbal",
      "--field", s"$natName,7:9", "--field-col", "c_nationkey",
      "--field-dim", "nation:n_nationkey:n_name")
    val fWhere = cells("customer", "c_custkey % 50", "c_acctbal",
      "--where", s"c_nationkey = $natId OR (c_nationkey >= 7 AND c_nationkey <= 9)")
    assert(f == fWhere && f > 0, s"--field $f vs --where $fWhere")
    // names are case-insensitive (NamedList resolves user-cased input)
    val fLower = cells("customer", "c_custkey % 50", "c_acctbal",
      "--field", s"${natName.toLowerCase},7:9", "--field-col", "c_nationkey",
      "--field-dim", "nation:n_nationkey:n_name")
    assert(fLower == f)
    // pure index grammar needs no dim (--scan/--spw are the same machinery)
    val s = cells("lineitem", "l_quantity", "l_extendedprice",
      "--scan", "1,3:4", "--scan-col", "l_linenumber")
    val sWhere = cells("lineitem", "l_quantity", "l_extendedprice",
      "--where", "l_linenumber = 1 OR (l_linenumber >= 3 AND l_linenumber <= 4)")
    assert(s == sWhere && s > 0)
    // --corr resolves its names against ITS OWN dim, composing with --scan
    val (regName, regId) = {
      val r = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        .selectExpr("r_name", "cast(r_regionkey as bigint)")
        .orderBy("r_name").collect().head
      (r.getString(0), r.getLong(1))
    }
    val c = cells("lineitem", "l_quantity", "l_extendedprice",
      "--scan", "1,2", "--scan-col", "l_linenumber",
      "--corr", regName, "--corr-col", "cast(l_suppkey % 5 as bigint)",
      "--corr-dim", "region:r_regionkey:r_name")
    val cWhere = cells("lineitem", "l_quantity", "l_extendedprice",
      "--where", s"(l_linenumber = 1 OR l_linenumber = 2) AND l_suppkey % 5 = $regId")
    assert(c == cWhere && c > 0)
    // a NAME without a dim, an unknown name, and a missing col all fail loudly
    intercept[IllegalArgumentException](cells("customer", "c_custkey", "c_acctbal",
      "--field", natName, "--field-col", "c_nationkey"))
    intercept[IllegalArgumentException](cells("customer", "c_custkey", "c_acctbal",
      "--field", "ATLANTIS", "--field-col", "c_nationkey",
      "--field-dim", "nation:n_nationkey:n_name"))
    intercept[IllegalArgumentException](cells("customer", "c_custkey", "c_acctbal",
      "--spw", "1"))
  }

  test("--dynspread dilates a sparse plot (pixel-level) and is rejected off count rasters") {
    val outPlain = tmp("spread_plain")
    val outSpread = tmp("spread_on")
    val pngPlain = tmp("plain.png")
    val pngSpread = tmp("spread.png")
    def run(out: String, png: String, extra: String*): Long = Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      // a handful of points on a 64x64 canvas — sparse by construction
      "--where", "l_orderkey <= 3",
      "-x", "l_quantity", "-y", "l_extendedprice",
      "--width", "64", "--height", "64",
      "--out", out, "--png", png) ++ extra, spark)
    val plain = run(outPlain, pngPlain)
    val spread = run(outSpread, pngSpread, "--dynspread")
    assert(spread > plain,
      s"dilation must grow the sparse raster: $plain -> $spread cells")
    val b1 = Files.readAllBytes(java.nio.file.Paths.get(pngPlain))
    val b2 = Files.readAllBytes(java.nio.file.Paths.get(pngSpread))
    assert(!java.util.Arrays.equals(b1, b2), "dilated PNG must differ from undilated")
    // count mass is conserved per the operator contract (sum of c equal)
    val sum = (dir: String) => spark.read.parquet(dir)
      .agg(org.apache.spark.sql.functions.sum("c")).collect().head.getLong(0)
    assert(sum(outSpread) >= sum(outPlain), "dilation spreads mass, never loses cells")

    // --ared rasters dilate too (r18): counts grow, and every dilated
    // value is a density-weighted blend — hence inside the plain
    // raster's [min, max] value envelope (convex combination)
    import org.apache.spark.sql.functions.{min => fmin, max => fmax, col}
    val outAredPlain = tmp("ared_plain")
    val outAredSpread = tmp("ared_on")
    val aredPlain = run(outAredPlain, tmp("ap.png"),
      "--ared", "mean", "--aaxis", "l_tax")
    val aredSpread = run(outAredSpread, tmp("as.png"),
      "--ared", "mean", "--aaxis", "l_tax", "--dynspread")
    assert(aredSpread > aredPlain,
      s"ared dilation must grow the sparse raster: $aredPlain -> $aredSpread")
    val env = spark.read.parquet(outAredPlain)
      .agg(fmin("ared"), fmax("ared")).collect().head
    // slack scales with the envelope: the float blend can overshoot
    // max(v) by ~1 ulp of the data magnitude (~1e-11 at price scale),
    // so an absolute 1e-12 allowance would be flaky by construction
    val slack = 1e-9 * math.max(1.0, math.abs(env.getDouble(1)))
    val offEnvelope = spark.read.parquet(outAredSpread)
      .filter(col("ared") < env.getDouble(0) - slack ||
        col("ared") > env.getDouble(1) + slack).count()
    assert(offEnvelope == 0L,
      "density-weighted values must stay inside the source envelope")

    // --colour-by rasters dilate per category: cells grow, the category
    // set is unchanged, per-category mass never shrinks, PNG differs
    val outCatPlain = tmp("cat_plain")
    val outCatSpread = tmp("cat_on")
    val pngCatPlain = tmp("cp.png")
    val pngCatSpread = tmp("cs.png")
    val catPlain = run(outCatPlain, pngCatPlain, "--colour-by", "l_returnflag")
    val catSpread = run(outCatSpread, pngCatSpread,
      "--colour-by", "l_returnflag", "--dynspread")
    assert(catSpread > catPlain,
      s"categorical dilation must grow the sparse raster: $catPlain -> $catSpread")
    def catMass(dir: String) = spark.read.parquet(dir).groupBy("cat")
      .agg(org.apache.spark.sql.functions.sum("c").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (mp, ms) = (catMass(outCatPlain), catMass(outCatSpread))
    assert(mp.keySet == ms.keySet, s"category set must survive: $mp vs $ms")
    mp.foreach { case (k, m) =>
      assert(ms(k) >= m, s"category $k mass shrank: $m -> ${ms(k)}") }
    assert(!java.util.Arrays.equals(
      Files.readAllBytes(java.nio.file.Paths.get(pngCatPlain)),
      Files.readAllBytes(java.nio.file.Paths.get(pngCatSpread))),
      "dilated categorical PNG must differ from undilated")
  }

  test("--cnum discretizes the colour axis into exact ntiles (q146's scale-safe shape)") {
    import org.apache.spark.sql.functions._
    val out = tmp("cnum_raster")
    Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "--where", "l_orderkey % 7 = 0",
      "-x", "l_quantity", "-y", "l_tax",
      "--width", "16", "--height", "16",
      "--colour-by", "l_extendedprice", "--cnum", "4",
      "--cnum-tiebreak", "l_orderkey * 10 + l_linenumber",
      "--out", out), spark)
    val got = spark.read.parquet(out)
      .groupBy("cat").agg(sum("c").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"buckets must be 1..4: $got")
    // parity with the ntile window the operator is pinned against
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("l_extendedprice"), expr("l_orderkey * 10 + l_linenumber"))
    val want = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_orderkey") % 7 === 0)
      .withColumn("b", ntile(4).over(w))
      .groupBy("b").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(got == want, s"per-bucket row mass must match ntile: $got vs $want")
    // with a flag mask, the ntile boundaries come from the UNFLAGGED
    // rows (the population the plot shows) — ≡ pre-filtering by --where
    val outFlag = tmp("cnum_flagged")
    val outWhere = tmp("cnum_where")
    def histOf(out: String, extra: String*): Map[Long, Long] = {
      Cli.run(Seq(
        "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
        "--where", "l_orderkey % 7 = 0",
        "-x", "l_quantity", "-y", "l_tax",
        "--width", "16", "--height", "16",
        "--colour-by", "l_extendedprice", "--cnum", "4",
        "--cnum-tiebreak", "l_orderkey * 10 + l_linenumber",
        "--out", out) ++ extra, spark)
      spark.read.parquet(out).groupBy("cat").agg(sum("c").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val viaFlag = histOf(outFlag, "--flag-col", "l_returnflag = 'R'")
    val viaWhere = histOf(outWhere, "--where",
      "l_orderkey % 7 = 0 AND NOT (l_returnflag = 'R')")
    assert(viaFlag == viaWhere && viaFlag.keySet == Set(1L, 2L, 3L, 4L),
      s"flag-masked cnum must discretize the plotted population: $viaFlag vs $viaWhere")
    // --cnum without colour-by / without tie-break fails loudly
    intercept[IllegalArgumentException](Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "-x", "l_quantity", "-y", "l_tax", "--cnum", "4"), spark))
    intercept[IllegalArgumentException](Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "-x", "l_quantity", "-y", "l_tax",
      "--colour-by", "l_extendedprice", "--cnum", "4"), spark))
  }

  test("--xcanvas/--ycanvas alias --width/--height; --dpi writes a correct pHYs chunk") {
    def render(extra: String*): String = {
      val png = tmp("dpi.png")
      Cli.run(Seq(
        "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
        "-x", "l_quantity", "-y", "l_extendedprice",
        "--png", png) ++ extra, spark)
      png
    }
    // alias: identical bytes to the canonical spelling
    val viaAlias = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      render("--xcanvas", "48", "--ycanvas", "32")))
    val viaCanon = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      render("--width", "48", "--height", "32")))
    assert(viaAlias.sameElements(viaCanon))
    // --dpi: scan the file for the pHYs chunk and decode pixels-per-metre
    def phys(path: String): Option[(Long, Long, Int)] = {
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      (0 until b.length - 12).find(i =>
        b(i) == 'p' && b(i + 1) == 'H' && b(i + 2) == 'Y' && b(i + 3) == 's')
        .map { i =>
          def u32(o: Int): Long =
            ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
              ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
          (u32(i + 4), u32(i + 8), b(i + 12).toInt)
        }
    }
    val plain = render("--width", "48", "--height", "32")
    assert(phys(plain).isEmpty, "no pHYs chunk without --dpi")
    val at300 = render("--width", "48", "--height", "32", "--dpi", "300")
    val want = math.round(300 / 0.0254) // 11811 pixels per metre
    assert(phys(at300).contains((want, want, 1)),
      s"pHYs must carry $want ppm with unit=metre, got ${phys(at300)}")
    // dpi is metadata only: decoded pixels identical to the plain render
    val a = javax.imageio.ImageIO.read(new java.io.File(plain))
    val b = javax.imageio.ImageIO.read(new java.io.File(at300))
    assert(a.getWidth == b.getWidth && a.getHeight == b.getHeight)
    val same = (0 until a.getWidth).forall(x =>
      (0 until a.getHeight).forall(y => a.getRGB(x, y) == b.getRGB(x, y)))
    assert(same, "--dpi must not change pixel content")
    // decorated and categorical writers honor it too
    assert(phys(render("--width", "48", "--height", "32", "--dpi", "150",
      "--title", "t")).contains((math.round(150 / 0.0254), math.round(150 / 0.0254), 1)))
    assert(phys(render("--width", "48", "--height", "32", "--dpi", "72",
      "--colour-by", "l_returnflag")).contains(
      (math.round(72 / 0.0254), math.round(72 / 0.0254), 1)))
  }

  test("events table works through the CLI (nanos normalization inside Engine.open)") {
    val out = tmp("events")
    val cells = Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "events",
      "-x", "unix_micros(ts) / 1000000.0", "-y", "value",
      "--width", "32", "--height", "32", "--out", out), spark)
    assert(cells > 0)
  }

  test("--sample draws a deterministic subset; reruns identical, fewer points than full") {
    def total(out: String, extra: Seq[String]): Double = {
      Cli.run(Seq(
        "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
        "-x", "l_quantity", "-y", "l_extendedprice",
        "--xmin", "0", "--xmax", "55", "--ymin", "900", "--ymax", "105000",
        "--width", "32", "--height", "32", "--out", out) ++ extra, spark)
      spark.read.parquet(out).agg(org.apache.spark.sql.functions.sum("c"))
        .head().getLong(0).toDouble
    }
    val full = total(tmp("full"), Seq.empty)
    val s1 = total(tmp("s1"), Seq("--sample", "0.3", "--sample-key",
      "concat(l_orderkey, ':', l_linenumber)"))
    val s2 = total(tmp("s2"), Seq("--sample", "0.3", "--sample-key",
      "concat(l_orderkey, ':', l_linenumber)"))
    assert(s1 == s2, "the sample must be identical across runs")
    assert(s1 > 0 && s1 < full, s"sampled points $s1 must be a strict subset of $full")
    assert(math.abs(s1 / full - 0.3) < 0.05, s"fraction off: ${s1 / full}")
    val e = intercept[IllegalArgumentException] {
      Cli.run(Seq("--dir", "/root/testdata/sf0.001", "--table", "lineitem",
        "-x", "l_quantity", "-y", "l_extendedprice", "--sample", "0.5"), spark)
    }
    assert(e.getMessage.contains("sample-key"))
  }

  test("--plot batch: two plots share one scan and write both outputs") {
    val (out1, out2) = (tmp("b1"), tmp("b2"))
    // end to end: two different plots (one reuses the global y, its own
    // ared; one its own axes + cmap-less png) from ONE invocation
    val png2 = tmp("b2.png")
    val cells = Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "-y", "l_extendedprice", "--width", "32", "--height", "32",
      "--plot", s"x:l_quantity;ared:mean;aaxis:l_tax;out:$out1",
      "--plot", s"x:l_discount;y:l_quantity;out:$out2;png:$png2"), spark)
    assert(cells > 0)
    val r1 = spark.read.parquet(out1)
    assert(r1.columns.toSeq == Seq("xb", "yb", "c", "ared", "shade"))
    assert(r1.count() > 0 && spark.read.parquet(out2).count() > 0)
    assert(new java.io.File(png2).length() > 0)

    // plan-shape gate: every plot raster reads the SAME cached axis
    // projection (single table scan for the whole batch); no raster's
    // executed plan touches the file source directly
    val a = Cli.parse(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "--width", "32", "--height", "32",
      "--plot", "x:l_quantity;y:l_extendedprice",
      "--plot", "x:l_discount;y:l_quantity"))
    val (projection, frames) = Cli.batchFrames(a, spark)
    try {
      assert(frames.size == 2)
      val caches = frames.map { case (_, raster, _) =>
        val rels = raster.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder
        }
        assert(rels.size == 1, "each raster must read exactly one cached projection")
        val scans = raster.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
        assert(scans.isEmpty, "no raster may scan the file source directly")
        rels.head
      }
      assert(caches.distinct.size == 1,
        "both rasters must share ONE cache entry (one scan per batch)")
      // axis dedup: l_quantity appears in both plots but is projected once
      assert(projection.columns.length == 3,
        s"3 distinct axes across the two plots: ${projection.columns.toSeq}")
    } finally { projection.unpersist(blocking = false); () }
  }

  test("--title with --colour-by is rejected, not silently dropped") {
    // categorical renders are undecorated; the CLI's philosophy for
    // unsupported combinations is a loud require (cf. --iter with
    // --plot), never a silently ignored option
    val e = intercept[IllegalArgumentException] {
      Cli.run(Seq(
        "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
        "-x", "l_quantity", "-y", "l_extendedprice",
        "--width", "16", "--height", "16",
        "--colour-by", "l_linestatus",
        "--title", "nope", "--png", tmp("rejected.png")), spark)
    }
    assert(e.getMessage.contains("colour-by"), e.getMessage)
    val eb = intercept[IllegalArgumentException] {
      Cli.run(Seq(
        "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
        "--width", "16", "--height", "16",
        "--plot", s"x:l_quantity;y:l_extendedprice;colour-by:l_linestatus;" +
          s"title:nope;png:${tmp("rejected2.png")}"), spark)
    }
    assert(eb.getMessage.contains("colour-by"), eb.getMessage)
    // a GLOBAL --title over a batch containing a colour-by plot rejects
    // too — the third way the combination can arise, previously the one
    // that slipped through silently
    val eg = intercept[IllegalArgumentException] {
      Cli.run(Seq(
        "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
        "--width", "16", "--height", "16", "--title", "nope",
        "--plot", s"x:l_quantity;y:l_extendedprice;colour-by:l_linestatus;" +
          s"png:${tmp("rejected3.png")}"), spark)
    }
    assert(eg.getMessage.contains("colour-by"), eg.getMessage)
  }

  test("--title renders the decorated layout (margins, colorbar) around the raster") {
    val png = tmp("titled.png")
    Cli.run(Seq(
      "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
      "-x", "l_quantity", "-y", "l_extendedprice",
      "--width", "32", "--height", "32",
      "--title", "qty vs price", "--png", png), spark)
    val img = javax.imageio.ImageIO.read(new java.io.File(png))
    // decorated page is strictly larger than the raster: left margin 50,
    // title bar 13, bottom 16, colorbar + labels on the right
    assert(img.getWidth > 32 + 50 && img.getHeight == 13 + 32 + 16,
      s"decorated layout expected, got ${img.getWidth}x${img.getHeight}")
  }

  test("--jobs N renders the batch in parallel with byte-identical PNGs") {
    // the reference's `-j N` render pool: same 3-plot batch serial and
    // with a 3-thread pool — every PNG byte-identical, same cell total
    def batch(tag: String, jobs: Seq[String]): (Long, Seq[Array[Byte]]) = {
      val pngs = (1 to 3).map(i => tmp(s"$tag$i.png"))
      val cells = Cli.run(Seq(
        "--dir", "/root/testdata/sf0.001", "--table", "lineitem",
        "--width", "32", "--height", "32") ++ jobs ++ Seq(
        "--plot", s"x:l_quantity;y:l_extendedprice;png:${pngs(0)}",
        "--plot", s"x:l_discount;y:l_quantity;norm:log;png:${pngs(1)}",
        "--plot", s"x:l_tax;y:l_discount;cmap:viridis;png:${pngs(2)}"), spark)
      (cells, pngs.map(p => Files.readAllBytes(java.nio.file.Paths.get(p))))
    }
    val (serialCells, serialPngs) = batch("s", Nil)
    val (parCells, parPngs) = batch("p", Seq("--jobs", "3"))
    assert(serialCells == parCells, s"cell totals diverged: $serialCells vs $parCells")
    serialPngs.zip(parPngs).zipWithIndex.foreach { case ((s, p), i) =>
      assert(s.nonEmpty && java.util.Arrays.equals(s, p),
        s"plot $i PNG must be byte-identical under --jobs")
    }
    val e = intercept[IllegalArgumentException] {
      Cli.run(Seq("--dir", "/root/testdata/sf0.001", "--table", "lineitem",
        "--jobs", "0", "--plot", "x:l_tax;y:l_discount"), spark)
    }
    assert(e.getMessage.contains("--jobs"))
  }

  test("--plot batch rejects unknown keys and composes global defaults") {
    val e = intercept[IllegalArgumentException] {
      Cli.parsePlotOpts("x:a;bogus:1")
    }
    assert(e.getMessage.contains("unknown --plot key"))
    val e2 = intercept[IllegalArgumentException] {
      Cli.run(Seq("--dir", "/root/testdata/sf0.001", "--table", "lineitem",
        "--plot", "y:l_quantity"), spark) // no x anywhere
    }
    assert(e2.getMessage.contains("--plot needs 'x:'"))
  }
}
