package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Sidecar basenames — the contract with scripts/check.py (which greps
    * these literals out of this file so a rename can never desynchronize
    * the two sides silently). MUST stay `_`-prefixed: the driver reads
    * each query directory with `pyarrow.dataset.dataset(dir)`, whose
    * default `ignore_prefixes=['.','_']` skips `_SUCCESS`-style names but
    * chokes on any other non-parquet file (round 8's 0/109: bare
    * `canon.txt`/`canon.md5` failed every query with ArrowInvalid). */
  val CanonTxt  = "_canon.txt"
  val CanonMd5  = "_canon.md5"

  /** Driver-mismatch diagnostics: next to each query's parquet, write
    * [[CanonTxt]] — the result under the DRIVER's canonical protocol
    * (columns sorted by name, each value via the §5.3 rules, rows sorted
    * tuple-wise) one row per line — and [[CanonMd5]] over the joined body.
    * A future driver hash-fail that doesn't reproduce locally (round 7's
    * q84) then becomes a one-line diff between two artifacts instead of
    * an unexplained red flag. Reads BACK the written parquet so the dump
    * reflects exactly the bytes the driver will hash, not the in-memory
    * plan. Caps at 200k rows (verify runs at sf0.01; every gated result
    * is orders of magnitude smaller).
    *
    * Value formatting mirrors the driver's pandas-side canon, which
    * differs from [[Canon.value]] in two ways pinned here: timestamps
    * always carry a 6-digit fraction (`%f`), and dates surface as
    * midnight timestamps (pandas reads parquet DATE as datetime64).
    */
  private[graft] def canonDump(spark: SparkSession, dir: String): Unit = {
    val df = spark.read.parquet(dir)
    if (df.count() > 200000L) return
    val cols = df.columns.sorted
    val sel = df.select(cols.head, cols.tail: _*)
    val raw = sel.collect()
    import org.apache.spark.sql.types._
    val types = sel.schema.fields.map(_.dataType)
    // pandas' parquet read is lossy in two ways the mirror must copy:
    // a NULL in a float column becomes NaN ("nan"), and an integer
    // column CONTAINING a null is promoted wholesale to float64 (every
    // value then prints through %.6g, nulls as "nan").
    val intPromoted = types.indices.map { i =>
      types(i) match {
        case ByteType | ShortType | IntegerType | LongType =>
          raw.exists(_.isNullAt(i))
        case _ => false
      }
    }
    def cv(i: Int, v: Any): String = v match {
      case null => types(i) match {
        case DoubleType | FloatType => "nan"
        case _ if intPromoted(i) => "nan"
        case _ => "NULL"
      }
      case d: java.lang.Double => Canon.g6(d)
      case f: java.lang.Float => Canon.g6(f.toDouble)
      case n: java.lang.Number if intPromoted(i) => Canon.g6(n.doubleValue)
      case t: java.sql.Timestamp =>
        t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(
          java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
      case d: java.sql.Date => s"$d 00:00:00.000000"
      case b: java.lang.Boolean => if (b) "True" else "False"
      case other => String.valueOf(other)
    }
    import scala.math.Ordering.Implicits._
    val rows = raw
      .map(r => (0 until r.length).map(i => cv(i, r.get(i))))
      .sorted(implicitly[Ordering[Seq[String]]])
    val body = rows.map(_.mkString("|")).mkString("\n")
    Files.writeString(Paths.get(s"$dir/$CanonTxt"), body + "\n")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Files.writeString(Paths.get(s"$dir/$CanonMd5"), md5 + "\n")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Engine.session(Engine.localMaster, shufflePartitions = Engine.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Schema-drift guard (see Tables.assertSchemasMatch): LOUD but
    // non-fatal — queries over undrifted tables still verify; queries
    // over a drifted one fail with this banner naming the exact column
    // instead of silently computing garbage (round 9: events.ts
    // nanos→micros redded 11 rows with zero diagnostics).
    // NonFatal, not just IllegalStateException: a missing/corrupt FILE
    // throws AnalysisException from the footer probe itself, and the
    // guard must never take down the queries over the healthy tables.
    try Tables.assertSchemasMatch(spark, sfDir)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] SCHEMA DRIFT — affected results are garbage:\n${e.getMessage}")
    }
    new java.io.File(outDir).mkdirs()
    // Environment sidecar (VERDICT r18 #6): q170 went driver-red twice
    // on environment differences no artifact recorded — diagnosing took
    // judge reruns both times. `_ENV.json` names the JVM-side versions
    // (and check.py banners its DuckDB + Python), so the NEXT
    // environment-caused red is attributable from the artifacts alone.
    // `_`-prefixed like the canon sidecars: pyarrow.dataset skips it.
    Files.writeString(Paths.get(s"$outDir/_ENV.json"),
      s"""{"spark": "${spark.version}", """ +
        s""""scala": "${scala.util.Properties.versionNumberString}", """ +
        s""""jdk": "${System.getProperty("java.version")}", """ +
        s""""os": "${System.getProperty("os.name")} ${System.getProperty("os.version")}", """ +
        s""""timezone": "${spark.conf.get("spark.sql.session.timeZone")}", """ +
        s""""ansi": "${spark.conf.get("spark.sql.ansi.enabled")}"}""" + "\n")
    // Local-iteration filter (NOT set by the driver): run only queries
    // whose name matches the SPARK_GRAFT_ONLY regex, and dump only their
    // oracles — check.py walks oracle_sql.json keys, so both must filter
    // together or every skipped query reads as a missing-output FAIL.
    val only: String => Boolean = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(re) => val p = re.r; name => p.findFirstIn(name).isDefined
      case None => _ => true
    }
    // A filtered run must NEVER be mistakable for a full verification
    // (ADVICE r16): bannered loudly AND marked on disk — `_PARTIAL` in
    // the output dir names the filter, so a later check.py pass (or a
    // human) sees the subset-ness even after the shell env is gone.
    // A full run deletes any stale marker.
    val partialMarker = Paths.get(s"$outDir/_PARTIAL")
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(re) =>
        System.err.println(
          s"""|[verify] ############################################################
              |[verify] # PARTIAL RUN: SPARK_GRAFT_ONLY=$re
              |[verify] # Only matching queries + oracles are emitted. This output
              |[verify] # is NOT a full verification; $outDir/_PARTIAL marks it.
              |[verify] ############################################################""".stripMargin)
        new java.io.File(outDir).mkdirs()
        Files.writeString(partialMarker, s"SPARK_GRAFT_ONLY=$re\n")
      case None =>
        Files.deleteIfExists(partialMarker)
    }
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      // delete any previous output FIRST: mode(overwrite) only clears the
      // target when the new write executes, so a query that fails before
      // writing would otherwise leave a stale (possibly passing) result
      val target = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(target)) fs.delete(target, true)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        canonDump(spark, s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
