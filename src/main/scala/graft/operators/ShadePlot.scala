package graft.operators

import java.awt.image.BufferedImage
import java.io.File

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end plot pipeline — the engine's equivalent of the reference's
  * `shadems <MS> -x … -y …` flow (`shade_ms/data_plots.py :: get_plot_data`
  * + `create_plot` [U]): filter → derive axes → 2-D bin-aggregate →
  * normalize (shade) → optional categorical split → PNG.
  *
  * Everything up to the raster is distributed and scale-free (the shuffle
  * carries ≤ W×H×ncat rows no matter the input size); only the final
  * ≤W×H-cell raster is collected to render the PNG — the same boundary the
  * reference draws between datashader (distributed) and matplotlib
  * (driver). Like the reference, which rasterises once and then renders
  * and saves that one aggregate, [[graft.Cli]] evaluates a plot's raster
  * once: with a PNG it collects the rows and hands the renderers below a
  * local frame of them, which the raster parquet and the cell count read
  * too. The renderers accept any frame of raster rows, local or not.
  */
object ShadePlot {

  /** Axis + canvas + options for one plot; `colourBy` mirrors
    * `--colour-by`, `flagMask` mirrors default flag masking (`--noflags`
    * off), `conjugate` mirrors uv conjugate mirroring (`--noconj` off). */
  final case class PlotSpec(
      x: Column,
      y: Column,
      canvas: Canvas,
      reduction: Seq[Column] = Nil,          // extra --ared aggs, pre-aliased
      colourBy: Option[Column] = None,
      flagMask: Option[Column] = None,       // rows where mask is TRUE are dropped
      conjugate: Boolean = false,
      norm: String = "eq_hist")              // eq_hist | log | cbrt | linear

  /** Mirror-through-origin preparation: keeps ALL source columns (so
    * reduction aggregates and colour categories still resolve) and adds
    * mirrored axis columns `__px/__py`. */
  private def withPoints(df: DataFrame, spec: PlotSpec): DataFrame =
    if (!spec.conjugate) df.withColumn("__px", spec.x).withColumn("__py", spec.y)
    else df
      .withColumn("__m", explode(array(
        struct(spec.x.as("px"), spec.y.as("py")),
        struct((-spec.x).as("px"), (-spec.y).as("py")))))
      .withColumn("__px", col("__m.px")).withColumn("__py", col("__m.py"))
      .drop("__m")

  /** Build the raster DataFrame for a spec: (xb, yb[, cat], c[, aggs…]). */
  def raster(df: DataFrame, spec: PlotSpec): DataFrame = {
    val pts = withPoints(spec.flagMask.fold(df)(m => df.filter(!m)), spec)
    val keys = Seq(spec.canvas.xBin(col("__px")).as("xb"), spec.canvas.yBin(col("__py")).as("yb")) ++
      spec.colourBy.map(_.as("cat"))
    val aggs = count(lit(1)).as("c") +: spec.reduction
    pts.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Apply the spec's normalization, adding a `shade` column in [0, 1]
    * rounded to 6 decimals. With `within`, each value of that column is
    * normalized over its own cells only (the per-group rasters of
    * [[writePngPerGroup]]); without it, over the whole raster. */
  def shade(rasterDf: DataFrame, spec: PlotSpec,
      within: Option[Column] = None): DataFrame = spec.norm match {
    case "eq_hist" => Raster.shadeEqHist(rasterDf, col("c"), within = within)
    case "log"     => withMaxNorm(rasterDf, log1p(col("c")), within)
    case "cbrt"    => withMaxNorm(rasterDf, cbrt(col("c")), within)
    case "linear"  => withMaxNorm(rasterDf, col("c").cast("double"), within)
    case other     => throw new IllegalArgumentException(s"unknown norm: $other")
  }

  private def withMaxNorm(df: DataFrame, v: Column, within: Option[Column]): DataFrame =
    df.withColumn("shade", round(v / max(v).over(org.apache.spark.sql.expressions.Window
      .partitionBy(within.getOrElse(lit(1)))), 6))

  /** Per-group iteration (`--iter-field/-scan/…` [U]): one raster per
    * distinct group value, computed in a single pass by adding the group
    * key to the raster keys (Spark-first: grouped, not looped). Honors
    * flag masking, conjugation and reductions like [[raster]]. */
  def rasterByGroup(df: DataFrame, spec: PlotSpec, group: Column): DataFrame = {
    require(spec.colourBy.isEmpty,
      "rasterByGroup: use the group as the only split; colourBy is not combined here")
    val pts = withPoints(spec.flagMask.fold(df)(m => df.filter(!m)), spec)
    val aggs = count(lit(1)).as("c") +: spec.reduction
    pts.groupBy(group.as("grp"), spec.canvas.xBin(col("__px")).as("xb"),
        spec.canvas.yBin(col("__py")).as("yb"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group rasters written as partitioned parquet — the file-output
    * form of `--iter-*` iteration ("one output per group"): downstream
    * consumers read a single group via partition pruning. */
  def writeRastersPartitioned(
      df: DataFrame, spec: PlotSpec, group: Column, dir: String): Unit =
    rasterByGroup(df, spec, group)
      .write.partitionBy("grp").mode("overwrite").parquet(dir)

  /** Expand a PNG path template for one group value: a literal `{}` token
    * is substituted (the reference's `--png` filename token expansion
    * [U]); without a token the group is appended before the extension. */
  def pngPathForGroup(template: String, grp: String): String = {
    // keep group values filesystem-safe without losing distinctness: when
    // sanitization changes the value, distinct groups like "a/b" and "a_b"
    // would collapse to one filename (and one would silently overwrite the
    // other) — append a short hash of the ORIGINAL value to disambiguate
    val mapped = grp.map(c => if (c.isLetterOrDigit || c == '-' || c == '.') c else '_')
    val safe =
      if (mapped == grp) grp
      else {
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(grp.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
        s"${mapped}-$h"
      }
    if (template.contains("{}")) template.replace("{}", safe)
    else {
      val i = template.lastIndexOf('.')
      if (i <= template.lastIndexOf('/')) s"${template}_$safe"
      else s"${template.substring(0, i)}_$safe${template.substring(i)}"
    }
  }

  /** One PNG per group from a [[rasterByGroup]] raster — the file-per-group
    * form of the reference's `--iter-*` plot loop [U], computed as ONE
    * distributed plan: [[shade]] normalizes within each group (each group
    * is shaded exactly as a separate plot of it would be), and only the
    * ≤ W×H×ngroups raster ever reaches the driver. Intended for the
    * reference's iteration axes (fields/scans/corrs — low cardinality);
    * the collect is bounded by canvas size × group count, never data size.
    * Returns the written paths (one per group, sorted by group value). */
  def writePngPerGroup(grouped: DataFrame, spec: PlotSpec, template: String,
      cmap: String = "fire", dpi: Option[Int] = None): Seq[String] = {
    val rows = shade(grouped, spec, within = Some(col("grp")))
      .select(coalesce(col("grp").cast("string"), lit("(null)")).as("grp"),
        col("xb"), col("yb"), col("shade"))
      .collect()
    val w = spec.canvas.width
    val h = spec.canvas.height
    val map = colormap(cmap) _
    rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (g, cells) =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      cells.foreach { r =>
        val (rC, gC, bC) = map(r.getDouble(3))
        img.setRGB(r.getInt(1), h - 1 - r.getInt(2), (rC << 16) | (gC << 8) | bC)
      }
      val path = pngPathForGroup(template, g)
      writeImage(img, path, dpi)
      path
    }
  }

  /** Decorated render — title bar, axis tick labels and a colorbar
    * around the raster (the reference's matplotlib title/ticks/colorbar
    * cosmetics [U], re-expressed): the raster draws exactly as
    * [[writePng]] does, framed by a white page with
    *  - a centered TITLE line (when non-empty),
    *  - three ticks per axis labeled from the canvas ranges at `%.3g`
    *    (min / midpoint / max — the y axis reads upward, matching the
    *    raster's orientation), and
    *  - a vertical COLORBAR sampling the colormap top (1.0) to bottom
    *    (0.0) with its own scale labels — the shade domain every norm
    *    (eq_hist/log/cbrt/linear) maps into.
    * All text uses [[PixelFont]], so the output is byte-deterministic
    * on any JVM and needs no fontconfig (ShadePlotSpec pins identical
    * bytes across renders and checks colorbar pixels against the
    * colormap directly). */
  def writePngDecorated(shaded: DataFrame, spec: PlotSpec, path: String,
      cmap: String = "fire", title: String = "", dpi: Option[Int] = None): Unit = {
    require(spec.colourBy.isEmpty,
      "writePngDecorated renders one value per cell, like writePng")
    val w = spec.canvas.width
    val h = spec.canvas.height
    // formatLocal(ROOT): plain .format uses the JVM default locale,
    // which would print decimal COMMAS on e.g. de_DE — different label
    // bytes per machine, the exact dependence PixelFont exists to avoid
    def fmt(v: Double): String = "%.3g".formatLocal(java.util.Locale.ROOT, v)
    // left margin grows to fit the widest y label (e.g. "-1.05e+05" is
    // 53 px — wider than the 45-px default budget; without this it
    // would clamp to x=0 and overdraw the raster's left columns)
    val (y0v, y1v) = spec.canvas.yRange
    val yLabels = Seq(fmt(y1v), fmt(y0v + 0.5 * (y1v - y0v)), fmt(y0v))
    val left = math.max(50, yLabels.map(PixelFont.width(_)).max + 8)
    val bottom = 16
    val top = if (title.nonEmpty) 13 else 4
    val cbGap = 4
    val cbW = 10
    val right = cbGap + cbW + 3 + PixelFont.width("0.0") + 3
    val W = left + w + right
    val H = top + h + bottom
    val img = new BufferedImage(W, H, BufferedImage.TYPE_INT_RGB)
    val ink = 0x202020
    for (x <- 0 until W; y <- 0 until H) img.setRGB(x, y, 0xFFFFFF)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(left + x, top + y, 0x000000)
    val map = colormap(cmap) _
    drawRaster(img, shaded, h, map, left, top)
    if (title.nonEmpty) {
      val tw = PixelFont.width(title)
      PixelFont.draw(img, left + math.max(0, (w - tw) / 2), 2, title, ink)
    }
    // x ticks: min / mid / max under the raster's left / center / right
    val (x0, x1) = spec.canvas.xRange
    Seq((0.0, left), (0.5, left + w / 2), (1.0, left + w - 1)).foreach { case (f, px) =>
      img.setRGB(px, top + h, ink)
      img.setRGB(px, top + h + 1, ink)
      val label = fmt(x0 + f * (x1 - x0))
      val lw = PixelFont.width(label)
      PixelFont.draw(img, math.min(W - lw - 1, math.max(0, px - lw / 2)),
        top + h + 4, label, ink)
    }
    // y ticks: max at the top row (the raster's y axis reads upward);
    // labels right-align to left-5 and always fit — `left` was sized
    // from these exact strings above
    yLabels.zip(Seq(top, top + h / 2, top + h - 1)).foreach { case (label, py) =>
      img.setRGB(left - 2, py, ink)
      img.setRGB(left - 3, py, ink)
      PixelFont.draw(img, left - 5 - PixelFont.width(label),
        math.max(0, py - PixelFont.glyphH / 2), label, ink)
    }
    // colorbar: colormap sampled 1.0 (top) to 0.0 (bottom)
    val cbX = left + w + cbGap
    for (row <- 0 until h) {
      val v = if (h == 1) 1.0 else (h - 1 - row).toDouble / (h - 1)
      val (rC, gC, bC) = map(v)
      for (dx <- 0 until cbW)
        img.setRGB(cbX + dx, top + row, (rC << 16) | (gC << 8) | bC)
    }
    Seq(("1.0", top), ("0.5", top + h / 2), ("0.0", top + h - 1)).foreach {
      case (label, py) =>
        PixelFont.draw(img, cbX + cbW + 3,
          math.max(0, py - PixelFont.glyphH / 2), label, ink)
    }
    writeImage(img, path, dpi)
  }

  /** Deterministic colormaps (`--cmap` analog): shade in [0,1] → RGB.
    * "fire" is black→red→yellow→white; "gray" linear; "viridis" a
    * piecewise-linear approximation of the matplotlib default. */
  def colormap(name: String)(v0: Double): (Int, Int, Int) = {
    val v = math.max(0.0, math.min(1.0, v0))
    name match {
      case "fire" =>
        (math.min(255, (v * 3 * 255).toInt),
         math.min(255, math.max(0, ((v * 3 - 1) * 255).toInt)),
         math.min(255, math.max(0, ((v * 3 - 2) * 255).toInt)))
      case "gray" =>
        val g = (v * 255).toInt; (g, g, g)
      case "viridis" =>
        // control points sampled from the published colormap
        val pts = Array(
          (0.0, (68, 1, 84)), (0.25, (59, 82, 139)), (0.5, (33, 145, 140)),
          (0.75, (94, 201, 98)), (1.0, (253, 231, 37)))
        val i = math.min(pts.length - 2, (v * (pts.length - 1)).toInt)
        val ((v0p, (r0, g0, b0)), (v1p, (r1, g1, b1))) = (pts(i), pts(i + 1))
        val f = (v - v0p) / (v1p - v0p)
        ((r0 + f * (r1 - r0)).toInt, (g0 + f * (g1 - g0)).toInt, (b0 + f * (b1 - b0)).toInt)
      case other => throw new IllegalArgumentException(s"unknown colormap: $other")
    }
  }

  /** PNG file write shared by every renderer — with optional PHYSICAL
    * RESOLUTION metadata (the reference's `--dpi` [U, `main.py`
    * figure-save options]): when `dpi` is set, the PNG carries a
    * standards-compliant `pHYs` chunk (pixels-per-METRE, unit=meter —
    * dpi · 1/0.0254, rounded), written through the native
    * `javax_imageio_png_1.0` metadata tree so no JDK standard-tree
    * unit quirk is involved. Pixel CONTENT is byte-identical with or
    * without it — dpi is print-size metadata, not a resample (the
    * raster's pixel dimensions are `--width`/`--height`'s job, exactly
    * as in matplotlib where dpi scales the saved figure's physical
    * interpretation). */
  private[graft] def writeImage(img: BufferedImage, path: String,
      dpi: Option[Int]): Unit = dpi match {
    case None => ImageIO.write(img, "png", new File(path)); ()
    case Some(d) =>
      require(d > 0, s"dpi must be positive, got $d")
      val ppm = math.round(d / 0.0254) // pixels per metre
      val writer = ImageIO.getImageWritersByFormatName("png").next()
      val ios = ImageIO.createImageOutputStream(new File(path))
      try {
        writer.setOutput(ios)
        val param = writer.getDefaultWriteParam
        val meta = writer.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img), param)
        val fmt = "javax_imageio_png_1.0"
        val root = new javax.imageio.metadata.IIOMetadataNode(fmt)
        val phys = new javax.imageio.metadata.IIOMetadataNode("pHYs")
        phys.setAttribute("pixelsPerUnitXAxis", ppm.toString)
        phys.setAttribute("pixelsPerUnitYAxis", ppm.toString)
        phys.setAttribute("unitSpecifier", "meter")
        root.appendChild(phys)
        meta.mergeTree(fmt, root)
        writer.write(null, new javax.imageio.IIOImage(img, null, meta), param)
      } finally {
        writer.dispose()
        ios.close()
      }
  }

  /** Render a shaded raster to PNG. The collect is bounded by canvas
    * size, never data size. */
  def writePng(shaded: DataFrame, spec: PlotSpec, path: String,
      cmap: String = "fire", dpi: Option[Int] = None): Unit = {
    require(spec.colourBy.isEmpty,
      "writePng renders one value per cell; render categorical planes separately " +
      "(filter on cat) or aggregate them first")
    val w = spec.canvas.width
    val h = spec.canvas.height
    val map = colormap(cmap) _
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    drawRaster(img, shaded, h, map, 0, 0)
    writeImage(img, path, dpi)
  }

  /** Shared raster blit for [[writePng]] and [[writePngDecorated]]:
    * collect (xb, yb, shade) — bounded by the canvas size, never the
    * data — map through the colormap, and paint at offset (ox, oy)
    * with y reading upward, like the reference. One definition so the
    * plain and decorated renders cannot diverge on draw conventions. */
  private def drawRaster(img: BufferedImage, shaded: DataFrame, h: Int,
      map: Double => (Int, Int, Int), ox: Int, oy: Int): Unit =
    shaded.select(col("xb"), col("yb"), col("shade")).collect().foreach { r =>
      val (rC, gC, bC) = map(r.getDouble(2))
      img.setRGB(ox + r.getInt(0), oy + h - 1 - r.getInt(1),
        (rC << 16) | (gC << 8) | bC)
    }

  /** Deterministic n-color key — datashader's `color_key` default:
    * the first three categories get the pure R/G/B primaries (backward
    * compatible with the round-1 ≤3-category compositor), later ones get
    * golden-angle-spaced hues so any two are maximally separated no matter
    * how many categories show up. */
  def colorKey(cats: Seq[String]): Map[String, (Int, Int, Int)] =
    cats.zipWithIndex.map { case (c, i) =>
      val rgb =
        if (i < 3) Seq((255, 0, 0), (0, 255, 0), (0, 0, 255))(i)
        else {
          val hue = ((i - 3) * 0.6180339887498949 + 0.1) % 1.0
          val c2 = java.awt.Color.getHSBColor(hue.toFloat, 0.85f, 1.0f)
          (c2.getRed, c2.getGreen, c2.getBlue)
        }
      c -> rgb
    }.toMap

  /** Composite a categorical raster (xb, yb, cat, c) into one RGB PNG —
    * datashader's `color_key` compositing for the `--colour-by` plot, for
    * ANY number of categories: each category is eq_hist-shaded
    * independently (one pass over the raster, windowed per category, not
    * one query per category), then cell color = shade-weighted additive
    * mix of the category colors, channel-clamped. With ≤3 categories and
    * the default key this reduces to the round-1 one-channel-per-category
    * composite. Pass `key` to pin category→color assignments. */
  def writePngCategorical(rasterDf: DataFrame, spec: PlotSpec, path: String,
      key: Map[String, (Int, Int, Int)] = null, dpi: Option[Int] = None): Unit = {
    import org.apache.spark.sql.expressions.Window
    // per-category eq_hist in ONE plan: cume_dist partitioned by cat.
    // NULL categories render as their own "(null)" key instead of
    // NPE-ing the driver-side sort below.
    val shaded = rasterDf
      .withColumn("shade", cume_dist().over(
        Window.partitionBy(col("cat")).orderBy(col("c"))))
      .select(col("xb"), col("yb"),
        coalesce(col("cat").cast("string"), lit("(null)")).as("cat"), col("shade"))
      .collect()
    val cats = shaded.map(_.getString(2)).distinct.sorted.toSeq
    require(cats.nonEmpty, "categorical composite of an empty raster")
    // a caller-supplied key may not cover every observed category (including
    // the synthesized "(null)" key for NULL categories) — fall back to the
    // generated palette for the rest instead of throwing an opaque
    // NoSuchElementException from deep inside the pixel loop
    val generated = colorKey(cats)
    val k: Map[String, (Int, Int, Int)] =
      if (key == null) generated else generated ++ key
    val w = spec.canvas.width
    val h = spec.canvas.height
    val acc = Array.ofDim[Double](w, h, 3)
    shaded.foreach { r =>
      val (x, y, s) = (r.getInt(0), r.getInt(1), r.getDouble(3))
      val (cr, cg, cb) = k(r.getString(2))
      acc(x)(y)(0) += s * cr; acc(x)(y)(1) += s * cg; acc(x)(y)(2) += s * cb
    }
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) {
      def chan(i: Int): Int = math.min(255, acc(x)(y)(i).toInt)
      img.setRGB(x, h - 1 - y, (chan(0) << 16) | (chan(1) << 8) | chan(2))
    }
    writeImage(img, path, dpi)
  }

  /** The full `shadems`-equivalent entry: data → raster → shade → PNG. */
  def plot(df: DataFrame, spec: PlotSpec, pngPath: String): DataFrame = {
    val shaded = shade(raster(df, spec), spec)
    writePng(shaded, spec, pngPath)
    shaded
  }
}
