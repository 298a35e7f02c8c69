package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Canvas, ShadePlot}
import graft.operators.ShadePlot.PlotSpec

/** The `shadems`-equivalent command line (reference: `shade_ms/main.py ::
  * main` [U] — `shadems <MS> -x TIME -y DATA:amp --colour-by CORR`):
  * open a data directory, derive two axis expressions, rasterize, shade,
  * write raster parquet and/or a PNG. Axis arguments are full SQL
  * expressions, so the reference's derived axes (`DATA:amp` etc.) are
  * spelled directly — e.g. `-x "sqrt(u*u + v*v)"` — and `--where` is the
  * `--taql` analogue (arbitrary predicate, pushed to the scan by
  * Catalyst).
  *
  * Example:
  * {{{
  * sbt 'runMain graft.Cli --dir /root/testdata/sf0.001 --table lineitem \
  *   -x l_quantity -y l_extendedprice --width 64 --height 64 \
  *   --colour-by l_returnflag --png /tmp/plot.png --out /tmp/raster'
  * }}}
  */
object Cli {

  final case class Args(opts: Map[String, String], plots: Seq[String] = Nil) {
    def get(k: String): Option[String] = opts.get(k)
    def req(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing required option --$k"))
    def int(k: String, dflt: Int): Int = opts.get(k).map(_.toInt).getOrElse(dflt)
    def dbl(k: String): Option[Double] = opts.get(k).map(_.toDouble)
    def flag(k: String): Boolean = opts.contains(k)
  }

  private val known = Set(
    "dir", "table", "x", "y", "where", "width", "height",
    "xmin", "xmax", "ymin", "ymax", "aaxis", "ared", "order",
    "colour-by", "flag-col", "norm", "cmap", "iter", "out", "png",
    "conj", "noconj", "noflags", "sample", "sample-key", "plot", "profile",
    "jobs", "title", "dpi",
    "ant", "ant-col", "ant1-col", "ant2-col", "baseline", "chan", "chan-col",
    "field", "field-col", "field-dim", "scan", "scan-col", "scan-dim",
    "spw", "spw-col", "spw-dim", "corr", "corr-col", "corr-dim",
    "dynspread", "cnum", "cnum-tiebreak")

  /** `--key value` pairs plus bare `--key` flags; `-x`/`-y` are aliases.
    * Unknown options are rejected — a misspelled option falling back to a
    * default would silently produce the wrong plot. `--plot` may repeat
    * (one value per plot of a batch — see [[runBatch]]); every other
    * repeated option keeps its last value. */
  def parse(argv: Seq[String]): Args = {
    // --xcanvas/--ycanvas are the reference's names for the canvas pixel
    // dimensions [U, main.py] — exact aliases of --width/--height
    // (last-given wins, like any repeated option)
    val alias = Map("-x" -> "--x", "-y" -> "--y",
      "--xcanvas" -> "--width", "--ycanvas" -> "--height")
    val flags = Set("--noconj", "--conj", "--noflags", "--dynspread")
    val m = scala.collection.mutable.Map[String, String]()
    val plots = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < argv.length) {
      val key = alias.getOrElse(argv(i), argv(i))
      require(key.startsWith("--"), s"unexpected argument: ${argv(i)}")
      require(known.contains(key.drop(2)),
        s"unknown option $key (known: ${known.toSeq.sorted.map("--" + _).mkString(", ")})")
      if (flags.contains(key)) { m(key.drop(2)) = "true"; i += 1 }
      else {
        require(i + 1 < argv.length, s"option $key needs a value")
        if (key == "--plot") plots += argv(i + 1) else m(key.drop(2)) = argv(i + 1)
        i += 2
      }
    }
    Args(m.toMap, plots.toSeq)
  }

  /** One `--plot` value: `;`-separated `key:value` entries (value may
    * contain further `:`), e.g.
    * `x:l_quantity;y:l_extendedprice;ared:mean;aaxis:l_tax;out:/tmp/r1`.
    * Keys are the per-plot subset of the global options; anything absent
    * falls back to the global `--…` value. */
  private[graft] def parsePlotOpts(s: String): Map[String, String] = {
    val perPlot = Set("x", "y", "width", "height", "xmin", "xmax", "ymin",
      "ymax", "aaxis", "ared", "order", "colour-by", "norm", "cmap",
      "conj", "out", "png", "title", "dpi")
    s.split(";").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf(':')
      require(i > 0, s"bad --plot entry '$kv' (want key:value)")
      val k = kv.take(i).trim
      require(perPlot.contains(k),
        s"unknown --plot key '$k' (known: ${perPlot.toSeq.sorted.mkString(", ")})")
      k -> kv.drop(i + 1).trim
    }.toMap
  }

  /** `--ared` reduction over by-name axis/order columns (shared by the
    * single-plot and batch paths; `v`/`ord` are only forced when the
    * reduction actually needs them, preserving the "--ared needs --aaxis"
    * / "--ared first needs --order" error contracts at both call sites). */
  private def reductionOf(red: Option[String], v: => Column, ord: => Column): Seq[Column] =
    red match {
      case None => Nil
      case Some(r) =>
        Seq(r match {
          case "count" => count(v).as("ared")
          case "sum"   => sum(v).as("ared")
          case "mean"  => avg(v).as("ared")
          case "std"   => stddev_samp(v).as("ared")
          case "min"   => min(v).as("ared")
          case "max"   => max(v).as("ared")
          case "first" => min_by(v, ord).as("ared")
          case "last"  => max_by(v, ord).as("ared")
          case other => throw new IllegalArgumentException(s"unknown --ared $other")
        })
    }

  private def reduction(a: Args): Seq[Column] =
    reductionOf(a.get("ared"),
      expr(a.get("aaxis").getOrElse(
        throw new IllegalArgumentException("--ared needs --aaxis"))),
      // first/last are ORDER-based reductions; defaulting the order to
      // the value itself would silently turn them into min/max
      expr(a.get("order").getOrElse(throw new IllegalArgumentException(
        s"--ared ${a.get("ared").get} needs --order <expr> (the axis that defines first/last, e.g. a timestamp)"))))

  /** Subset selectors (reference `--ant` / `--baseline` / `--chan` [U,
    * `shade_ms/main.py`, `ms_info.py :: NamedList`]): the parquet data
    * model has no fixed antenna/channel columns, so each selector names
    * its target expression explicitly — `--ant "0,2:5" --ant-col a1` (or
    * `--ant1-col/--ant2-col` for the MS-style EITHER-endpoint match),
    * `--baseline "0-1,2-3" --ant1-col a1 --ant2-col a2` (symmetric
    * pairs), `--chan "0:64:4" --chan-col pos` (python slice over a
    * 0-based position). All become plain pushdown predicates
    * ([[graft.operators.Subset]]); selectors compose with `--where` by
    * conjunction, exactly as the reference ANDs its selection clauses. */
  private def subsetFilters(a: Args): Seq[Column] = {
    val ant = a.get("ant").map { spec =>
      (a.get("ant-col"), a.get("ant1-col"), a.get("ant2-col")) match {
        case (Some(c), _, _) =>
          graft.operators.Subset.membership(spec, expr(c))
        case (None, Some(c1), Some(c2)) =>
          graft.operators.Subset.membership(spec, expr(c1)) ||
            graft.operators.Subset.membership(spec, expr(c2))
        case _ => throw new IllegalArgumentException(
          "--ant needs --ant-col <expr> (or --ant1-col AND --ant2-col " +
            "for either-endpoint selection)")
      }
    }
    val bl = a.get("baseline").map { spec =>
      val need = (k: String) => a.get(k).getOrElse(throw new IllegalArgumentException(
        s"--baseline needs --ant1-col and --ant2-col (missing --$k)"))
      graft.operators.Subset.baselines(spec, expr(need("ant1-col")), expr(need("ant2-col")))
    }
    val chan = a.get("chan").map { spec =>
      graft.operators.Subset.chanSlice(spec,
        expr(a.get("chan-col").getOrElse(throw new IllegalArgumentException(
          "--chan needs --chan-col <expr> (a 0-based position column)"))))
    }
    Seq(ant, bl, chan).flatten
  }

  /** Named subset selectors (reference `--field/--scan/--spw/--corr`
    * [U, `main.py` argparse; `ms_info.py :: NamedList`]): each accepts
    * the index/range grammar of `--ant` PLUS names, resolved against a
    * dimension named by `--<sel>-dim table:idcol:namecol` (the
    * reference's subtable analog — `--field-dim nation:n_nationkey:
    * n_name` plays FIELD's NAME column). Name resolution happens at
    * parse time over the collected catalog-sized dimension, so the
    * emitted predicate is plain membership arithmetic and pushes to the
    * scan like every other selector; the dim option is only required
    * when the spec actually contains names. */
  private def namedSelectorFilters(a: Args, spark: SparkSession): Seq[Column] =
    Seq("field", "scan", "spw", "corr").flatMap { sel =>
      a.get(sel).map { spec =>
        val c = expr(a.get(s"$sel-col").getOrElse(throw new IllegalArgumentException(
          s"--$sel needs --$sel-col <expr> (the id column it selects on)")))
        // the dimension collect is LAZY: a pure-index spec with a --dim
        // given never reads (or pays for) the dimension table
        lazy val resolver: String => Long = a.get(s"$sel-dim") match {
          case Some(dimSpec) => dimSpec.split(':') match {
            case Array(table, idCol, nameCol) =>
              graft.operators.Subset.nameResolver(spark.table(table), idCol, nameCol)
            case _ => throw new IllegalArgumentException(
              s"--$sel-dim must be table:idcol:namecol, got '$dimSpec'")
          }
          case None => name => throw new IllegalArgumentException(
            s"--$sel '$spec' contains name '$name' but no --$sel-dim " +
              "table:idcol:namecol was given to resolve it")
        }
        graft.operators.Subset.namedMembership(spec, c, name => resolver(name))
      }
    }

  /** The shared source frame: table → `--where` filter → subset
    * selectors → `--sample`. */
  private def sourceFrame(a: Args, spark: SparkSession) = {
    Engine.open(spark, a.req("dir"))
    val table = spark.table(a.req("table"))
    val whered = a.get("where").fold(table)(w => table.filter(expr(w)))
    val filtered = (subsetFilters(a) ++ namedSelectorFilters(a, spark))
      .foldLeft(whered)(_ filter _)
    (a.get("sample"), a.get("sample-key")) match {
      case (Some(f), Some(k)) =>
        graft.operators.Sampling.hashSample(filtered, expr(k), f.toDouble)
      case (Some(_), None) => throw new IllegalArgumentException(
        "--sample needs --sample-key <expr> (a stable row key, e.g. the row id)")
      case _ => filtered
    }
  }

  /** The analysis half of a `--plot` batch, separated from the writes so
    * its plan shape is testable: returns the shared persisted projection
    * plus, per plot, (plot opts, raster frame, spec). The projection
    * holds every DISTINCT axis/colour/flag/order expression across the
    * batch computed ONCE (the reference's axis dedup: `shadems` derives
    * each unique axis a single time however many plots reuse it [U,
    * SURVEY §3 EP1 step 3]), so the whole batch costs one table scan —
    * every raster reads the cached projection, whose width is the pruned
    * axis set, not the table. Caller owns `projection.unpersist()`. */
  private[graft] def batchFrames(a: Args, spark: SparkSession)
      : (DataFrame, Seq[(Map[String, String], DataFrame, PlotSpec)]) = {
    val df = sourceFrame(a, spark)
    val specs = a.plots.map(parsePlotOpts)
    def opt(p: Map[String, String], k: String): Option[String] = p.get(k).orElse(a.get(k))
    def preq(p: Map[String, String], k: String): String = opt(p, k).getOrElse(
      throw new IllegalArgumentException(s"--plot needs '$k:' (or a global --$k default)"))
    // axis dedup: one projected column per distinct expression string
    val flagStr = a.get("flag-col").filterNot(_ => a.flag("noflags"))
    val axisStrs = (specs.flatMap(p =>
      Seq(Some(preq(p, "x")), Some(preq(p, "y")),
        opt(p, "aaxis"), opt(p, "order"), opt(p, "colour-by")).flatten) ++ flagStr).distinct
    val axName = axisStrs.zipWithIndex.map { case (e, i) => e -> s"__ax$i" }.toMap
    def axCol(e: String): Column = col(axName(e))
    val projection = df.select(axisStrs.map(e => expr(e).as(axName(e))): _*).persist()
    // range autocompute for every plot missing a bound, in ONE aggregate
    // (the single-plot path's Canvas.auto, batched across axes)
    val needAuto = specs.flatMap { p =>
      if (Seq("xmin", "xmax", "ymin", "ymax").exists(k => opt(p, k).isEmpty))
        Seq(preq(p, "x"), preq(p, "y"))
      else Nil
    }.distinct
    val ranges: Map[String, (Double, Double)] =
      if (needAuto.isEmpty) Map.empty
      else {
        val aggs = needAuto.flatMap(e => Seq(
          min(axCol(e).cast("double")), max(axCol(e).cast("double"))))
        val r = projection.agg(aggs.head, aggs.tail: _*).head()
        needAuto.zipWithIndex.map { case (e, i) =>
          require(!r.isNullAt(2 * i),
            s"range autocompute: no data in selection for axis '$e'")
          e -> (r.getDouble(2 * i), r.getDouble(2 * i + 1))
        }.toMap
      }
    // Canvas.auto's top-edge widening, replicated for the batched scan
    def widen(lo: Double, hi: Double) = {
      val eps = math.max(math.ulp(hi), (hi - lo) * 1e-9)
      (lo, hi + eps)
    }
    val plotFrames = specs.map { p =>
      def dbl(k: String): Option[Double] = opt(p, k).map(_.toDouble)
      val (xa, ya) = (preq(p, "x"), preq(p, "y"))
      def side(given: Option[Double], axis: String, lo: Boolean): Double =
        given.getOrElse {
          val (l, h) = widen(ranges(axis)._1, ranges(axis)._2)
          if (lo) l else h
        }
      val canvas = Canvas(
        opt(p, "width").map(_.toInt).getOrElse(256),
        opt(p, "height").map(_.toInt).getOrElse(256),
        (side(dbl("xmin"), xa, lo = true), side(dbl("xmax"), xa, lo = false)),
        (side(dbl("ymin"), ya, lo = true), side(dbl("ymax"), ya, lo = false)))
      val spec = PlotSpec(
        x = axCol(xa), y = axCol(ya), canvas = canvas,
        reduction = reductionOf(opt(p, "ared"),
          axCol(opt(p, "aaxis").getOrElse(
            throw new IllegalArgumentException("ared: needs aaxis:"))),
          axCol(opt(p, "order").getOrElse(throw new IllegalArgumentException(
            "ared:first/last needs order: (the axis that defines first/last)")))),
        colourBy = opt(p, "colour-by").map(axCol),
        flagMask = flagStr.map(axCol),
        conjugate = opt(p, "conj").exists(_.toBoolean) || a.flag("conj"),
        norm = opt(p, "norm").getOrElse("eq_hist"))
      (p, ShadePlot.raster(projection, spec), spec)
    }
    (projection, plotFrames)
  }

  /** Every sink of one plot over ONE evaluation of its canvas-bounded
    * `raster` (the reference rasterises once, then renders and saves that
    * one aggregate). With a PNG, the rows are collected once — the
    * renderers collect the whole raster anyway, so the driver holds
    * nothing new — and wrapped as a local frame that the parquet `write`,
    * the renderer and the returned cell count all read. Without one, the
    * raster is written once and counted from the written files' footers,
    * or counted directly when nothing is written. Deliberately no
    * `persist()`: a cached raster measured slower and left more heap
    * live. `render` draws the PNG and returns its progress note. */
  private def sinks(raster: DataFrame, out: Option[String],
      write: (DataFrame, String) => Unit,
      render: Option[DataFrame => String]): (Long, Option[String]) = {
    val spark = raster.sparkSession
    render match {
      case Some(draw) =>
        val rows = raster.collect()
        val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), raster.schema)
        out.foreach(write(local, _))
        (rows.length.toLong, Some(draw(local)))
      case None =>
        (out.fold(raster.count()) { dir =>
          write(raster, dir)
          spark.read.parquet(dir).count()
        }, None)
    }
  }

  /** The raster parquet of one plot: a single file. */
  private def writeRaster(raster: DataFrame, dir: String): Unit =
    raster.coalesce(1).write.mode("overwrite").parquet(dir)

  /** The PNG renderer of one plot, as [[sinks]] takes it: the categorical
    * composite for `--colour-by` (undecorated — callers reject a title),
    * else the shaded raster, decorated when titled. */
  private def pngRenderer(spec: PlotSpec, png: String, cmap: String,
      title: Option[String], dpi: Option[Int]): DataFrame => String = { frame =>
    if (spec.colourBy.nonEmpty) ShadePlot.writePngCategorical(frame, spec, png, dpi = dpi)
    else title match {
      case Some(t) => ShadePlot.writePngDecorated(frame, spec, png, cmap, t, dpi)
      case None => ShadePlot.writePng(frame, spec, png, cmap, dpi)
    }
    s"; png: $png"
  }

  /** Multi-plot batch (`--plot` given at least once): the reference's
    * main loop renders MANY plots per MS read; this is that shape — one
    * shared scan + persisted axis-dedup'd projection feeding every
    * plot's raster, instead of one scan per `shadems` invocation. Each
    * plot's raster is then evaluated once from the projection and feeds
    * all of that plot's sinks ([[sinks]]).
    * Returns total raster cells across plots.
    *
    * `--jobs N` (reference `-j N` pool [U]) renders the batch's plots
    * from N submit threads: each plot's shade/write/count pipeline is
    * independent (they share only the cached axis projection, which
    * concurrent Spark jobs read safely), so the per-plot DRIVER work —
    * raster collect, PNG encode, parquet commit — overlaps and the
    * scheduler interleaves the small per-plot jobs across idle cores.
    * Outputs are byte-identical to the serial path (CliSpec pins the
    * PNGs): nothing about a plot's computation depends on its
    * neighbors. Only the `[cli] plot i` progress lines may interleave
    * across plots; each line stays whole and carries its index. */
  private def runBatch(a: Args, spark: SparkSession): Long = {
    require(a.get("iter").isEmpty, "--iter is not supported with --plot batches")
    val jobs = a.int("jobs", 1)
    require(jobs >= 1, s"--jobs must be >= 1, got $jobs")
    val (projection, plotFrames) = batchFrames(a, spark)
    try {
      def renderOne(p: Map[String, String], raster: DataFrame, spec: PlotSpec, i: Int): Long = {
        val render = p.get("png").map { png =>
          val title = p.get("title").orElse(a.get("title"))
          // reject rather than silently drop the title (matches the
          // CLI's unsupported-combination philosophy, e.g. --iter+--plot);
          // a GLOBAL --title is rejected too — a mixed batch decorates
          // its non-categorical plots via per-plot title: keys instead
          require(spec.colourBy.isEmpty || title.isEmpty,
            s"plot $i: title is not supported with colour-by: " +
              "(categorical renders are undecorated)")
          pngRenderer(spec, png, p.getOrElse("cmap", a.get("cmap").getOrElse("fire")),
            title, p.get("dpi").orElse(a.get("dpi")).map(_.toInt))
        }
        val shaded =
          if (spec.colourBy.isEmpty) ShadePlot.shade(raster, spec) else raster
        val (cells, pngNote) = sinks(shaded, p.get("out"), writeRaster, render)
        println(s"[cli] plot $i: $cells raster cells" + pngNote.getOrElse("") +
          p.get("out").map(d => s"; raster: $d").getOrElse(""))
        cells
      }
      val indexed = plotFrames.zipWithIndex
      if (jobs <= 1 || indexed.size <= 1)
        indexed.map { case ((p, raster, spec), i) => renderOne(p, raster, spec, i) }.sum
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(jobs, indexed.size))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try Await.result(
          Future.sequence(indexed.map { case ((p, raster, spec), i) =>
            Future(renderOne(p, raster, spec, i))
          }), Duration.Inf).sum
        finally { pool.shutdown(); () }
      }
    } finally { projection.unpersist(blocking = false); () }
  }

  /** Testable entry: returns the number of raster cells written.
    * `--profile <path>` (reference `--profile` [U]) wraps the whole
    * invocation in [[Profiling.profiled]] and persists the execution
    * metrics JSON next to the plot outputs. */
  def run(argv: Seq[String], spark: SparkSession): Long = {
    val a = parse(argv)
    a.get("profile") match {
      case Some(path) =>
        val (cells, prof) = Profiling.profiled(spark, "cli") {
          val c = runParsed(a, spark); (c, c)
        }
        Profiling.dump(Seq(prof), path)
        println(s"[cli] profile: $path")
        cells
      case None => runParsed(a, spark)
    }
  }

  private def runParsed(a: Args, spark: SparkSession): Long = {
    if (a.plots.nonEmpty) {
      require(a.get("cnum").isEmpty, "--cnum is not supported with --plot batches")
      require(!a.flag("dynspread"), "--dynspread is not supported with --plot batches")
      return runBatch(a, spark)
    }
    // --sample (inside sourceFrame): deterministic md5-bucket row subset
    // (plot a reproducible fraction of an arbitrarily large table; same
    // rows on every run and any partitioning — unlike TABLESAMPLE). The
    // key must be a stable row expression; rows sharing a key travel
    // together.
    val df0 = sourceFrame(a, spark)
    // --cnum N (reference colour-axis discretization [U, main.py]): bin a
    // CONTINUOUS --colour-by expression into N exact ntiles and colour by
    // the bucket — the scale-safe range-rank form (q146's shape), never
    // the single-partition ntile window. Ties need a unique tie-break
    // column for the assignment to be deterministic, exactly as the
    // oracle-gated operator requires. The ntile boundaries are computed
    // over the FLAG-FILTERED rows (the reference discretizes the data it
    // plots): a flagged row never appears in the raster, so letting it
    // shift every bucket boundary would discretize a population the plot
    // doesn't show. The raster's own mask re-applies downstream —
    // idempotent on the already-filtered frame.
    val (df, colourBy) = (a.get("cnum"), a.get("colour-by")) match {
      case (Some(n), Some(ce)) =>
        val tb = a.get("cnum-tiebreak").getOrElse(throw new IllegalArgumentException(
          "--cnum needs --cnum-tiebreak <expr> (a unique column that breaks " +
            "colour-value ties deterministically, e.g. a row id)"))
        val unflagged = a.get("flag-col").filterNot(_ => a.flag("noflags"))
          .map(expr).map(m => df0.filter(!m)).getOrElse(df0)
        (graft.operators.Discretize.ntileRangeRank(unflagged, n.toInt, expr(ce), expr(tb)),
          Some(col("bucket")))
      case (Some(_), None) =>
        throw new IllegalArgumentException("--cnum needs --colour-by <expr>")
      case _ => (df0, a.get("colour-by").map(expr))
    }
    val x = expr(a.req("x"))
    val y = expr(a.req("y"))
    val w = a.int("width", 256)
    val h = a.int("height", 256)
    // Per-axis limits compose with autocompute (reference: any subset of
    // --xmin/--xmax/--ymin/--ymax may be given; the rest come from the
    // min/max scan) — a partially-specified range must never be dropped.
    val bounds = (a.dbl("xmin"), a.dbl("xmax"), a.dbl("ymin"), a.dbl("ymax"))
    val canvas = bounds match {
      case (Some(x0), Some(x1), Some(y0), Some(y1)) => Canvas(w, h, (x0, x1), (y0, y1))
      case (xmin, xmax, ymin, ymax) =>
        val auto = Canvas.auto(df, x, y, w, h)
        Canvas(w, h,
          (xmin.getOrElse(auto.xRange._1), xmax.getOrElse(auto.xRange._2)),
          (ymin.getOrElse(auto.yRange._1), ymax.getOrElse(auto.yRange._2)))
    }
    val spec = PlotSpec(
      x = x, y = y, canvas = canvas,
      reduction = reduction(a),
      colourBy = colourBy,
      flagMask = a.get("flag-col").filterNot(_ => a.flag("noflags")).map(expr),
      conjugate = a.flag("conj"),
      norm = a.get("norm").getOrElse("eq_hist"))
    // --dynspread (reference `create_plot` applies tf.dynspread before
    // shading [U]): density-adaptive dilation, for EVERY raster kind
    // like the reference (r18, closing the r17 restriction) —
    // count rasters dilate by sum (Raster.dynSpreadDensity, oracle-
    // gated as q150); --ared rasters dilate counts by sum and composite
    // the value DENSITY-WEIGHTED (dynSpreadValue); --colour-by rasters
    // dilate per category with the radius chosen from occupied cells
    // (dynSpreadCat).
    if (a.flag("dynspread"))
      require(a.get("iter").isEmpty, "--dynspread is not supported with --iter")
    def spreadIfAsked(raster: DataFrame): DataFrame =
      if (!a.flag("dynspread")) raster
      else if (spec.colourBy.nonEmpty)
        graft.operators.Raster.dynSpreadCat(raster, canvas.width, canvas.height,
          valueCol = if (spec.reduction.nonEmpty) Some("ared") else None)
      else if (spec.reduction.nonEmpty)
        graft.operators.Raster.dynSpreadValue(raster, canvas.width, canvas.height, "ared")
      else
        graft.operators.Raster.dynSpreadDensity(raster, canvas.width, canvas.height)

    // each branch evaluates its raster once for all of its sinks ([[sinks]])
    val cmap = a.get("cmap").getOrElse("fire")
    val dpi = a.get("dpi").map(_.toInt)
    val (cells, pngNote) = a.get("iter") match {
      case Some(g) =>
        // one pass builds every group's raster; parquet and PNGs are both
        // per-group outputs of it (reference: the --iter-* loop writes one
        // PNG per field/scan/corr [U])
        val dir = a.req("out") // per-group output requires a directory sink
        sinks(ShadePlot.rasterByGroup(df, spec, expr(g)), Some(dir),
          (grouped, d) => grouped.write.partitionBy("grp").mode("overwrite").parquet(d),
          a.get("png").map(t => grouped => {
            val ps = ShadePlot.writePngPerGroup(grouped, spec, t, cmap, dpi)
            s"; pngs: ${ps.size} (${ps.headOption.getOrElse("")} …)"
          }))
      case None =>
        val render = a.get("png").map { png =>
          require(spec.colourBy.isEmpty || a.get("title").isEmpty,
            "--title is not supported with --colour-by " +
              "(categorical renders are undecorated)")
          pngRenderer(spec, png, cmap, a.get("title"), dpi)
        }
        val raster = spreadIfAsked(ShadePlot.raster(df, spec))
        val shaded =
          if (spec.colourBy.isEmpty) ShadePlot.shade(raster, spec) else raster
        sinks(shaded, a.get("out"), writeRaster, render)
    }
    println(s"[cli] $cells raster cells" +
      pngNote.getOrElse("") +
      a.get("out").map(p => s"; raster: $p").getOrElse(""))
    cells
  }

  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    try run(args.toSeq, spark) finally spark.stop()
  }
}
