package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Cli, Engine, ExtensionQueries, PipelineQueries, Queries, SparkEntry, Tables}

/** JVM side of the benchmark: sets the engine up, drives one workload in a
  * closed loop through the program's public entry points, and writes every
  * op's latency and output digest (plus, when traced, spans and per-op
  * Spark counters) as JSON for `run.py` to check and summarize.
  *
  * {{{
  * Harness --workload plot-ms --seed 1 --passes 2 --trace 0 \
  *   --data <fixture dir> --out <run dir> [--ms <ms parquet>]
  * Harness --dump-oracles <file>     # op names and SparkEntry.oracleSql as JSON
  * }}}
  */
object Harness {

  /** One op's outcome: a result digest, or the stem of its plot outputs. */
  final case class Outcome(rows: Long = -1, md5: String = "", cols: String = "", out: String = "")

  final case class Done(id: Int, pass: Int, name: String,
      start: Double, latency: Double, traced: Boolean, outcome: Outcome, error: String)

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "--dump-oracles") {
      Files.writeString(Paths.get(args(1)), Json.obj(Seq(
        "declared" -> Json.arr(Queries.all.keys.toSeq.sorted.map(Json.str)),
        "pipeline" -> Json.arr(pipelineLegs.map(Json.str)),
        "sql" -> Json.obj(SparkEntry.oracleSql.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }))))
      return
    }
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cfg = Config(o("workload"), o("seed").toLong, o("passes").toInt,
      o("trace") == "1", o("data"), o.get("ms"), o("out"))
    require(workloads.contains(cfg.workload), s"unknown workload ${cfg.workload}")
    Files.createDirectories(Paths.get(cfg.out))
    new Run(cfg).execute()
  }

  final case class Config(workload: String, seed: Long, passes: Int, trace: Boolean,
      data: String, ms: Option[String], out: String)

  val workloads: Seq[String] = Seq("plot-ms", "llm-pipeline")

  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  private val epochAnchorMs = System.currentTimeMillis().toDouble
  private val nanoAnchor = System.nanoTime()
  def nowMs(): Double = epochAnchorMs + (System.nanoTime() - nanoAnchor) / 1e6

  /** Canonical md5 of a result, mirroring the oracle side's pandas canon
    * (scripts/check.py): columns sorted by name, `%.6g` floats with -0.0
    * as 0, µs timestamps, NULL, rows sorted. */
  def canonMd5(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val types = schema.fields.map(_.dataType)
    // pandas promotes an integer column holding a null to float64
    val intPromoted = types.indices.map { i =>
      types(i) match {
        case ByteType | ShortType | IntegerType | LongType => rows.exists(_.isNullAt(i))
        case _ => false
      }
    }
    val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def cv(i: Int, v: Any): String = v match {
      case null => types(i) match {
        case DoubleType | FloatType => "nan"
        case _ if intPromoted(i) => "nan"
        case _ => "NULL"
      }
      case d: java.lang.Double => graft.Canon.g6(d)
      case f: java.lang.Float => graft.Canon.g6(f.toDouble)
      case n: java.lang.Number if intPromoted(i) => graft.Canon.g6(n.doubleValue)
      case t: java.sql.Timestamp =>
        t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(tsFmt)
      case t: java.time.LocalDateTime => t.format(tsFmt)
      case d: java.sql.Date => s"$d 00:00:00.000000"
      case b: java.lang.Boolean => if (b) "True" else "False"
      case other => String.valueOf(other)
    }
    import scala.math.Ordering.Implicits._
    val body = rows.map(r => order.toSeq.map(i => cv(i, r.get(i))))
      .sorted(implicitly[Ordering[Seq[String]]])
      .map(_.mkString("|")).mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Memo accessors each pipeline leg consumes, so a traced run can time
    * the shared builds (or hits) as their own `tables.shared` spans before
    * the leg's construction reuses them. */
  val legMemos: Map[String, Seq[(String, Tables => Any)]] = {
    val pairs = "pairs" -> ((t: Tables) => t.documentNearDupPairs)
    val comps = "components" -> ((t: Tables) => t.documentNearDupComponents)
    val ce = "bigramCe" -> ((t: Tables) => t.bigramCeScores)
    Map(
      "q57_dedup_clusters" -> Seq(pairs, comps), "q85_cluster_audit" -> Seq(pairs, comps),
      "q117_bigram_lm_ce" -> Seq(ce), "q137_ccnet_buckets" -> Seq(ce),
      "q141_hashed_classifier" -> Seq("fp32" -> ((t: Tables) => t.hashedFeaturePairs32)))
  }

  /** One leg per pipeline stage: cleaning, LM scoring, MinHash dedup with
    * clusters, decontamination, BPE, ANN and hybrid (BM25 + dense)
    * retrieval, the hashed classifier. Legs sharing a memoized build come
    * as builder then consumer. */
  val pipelineLegs: Seq[String] = Seq(
    "q62_text_clean", "q117_bigram_lm_ce", "q137_ccnet_buckets",
    "q57_dedup_clusters", "q85_cluster_audit", "q74_decontaminate",
    "q112_bpe_tokens", "q35_ann_ivf", "q177_hybrid_rrf", "q141_hashed_classifier")

  /** The query-constructor table each op name comes from. */
  val constructors: Map[String, Tables => DataFrame] =
    Queries.all ++ ExtensionQueries.all ++ graft.CoverageQueries.all ++ PipelineQueries.all

  val fixtureTables: Seq[String] = Tables.schemas.keys.toSeq.sorted
}

/** Plot ops for the `plot-ms` workload: five shadems-style invocations
  * whose selections come from the seed (canvas sizes are fixed, so every
  * seed renders the same number of cells). */
final class PlotOps(seed: Long, dataDir: String, outRoot: String) {
  private val rng = new scala.util.Random(seed)
  val size: Int = 192
  val skipAnt: Int = rng.nextInt(4)
  val corrSel: Int = if (rng.nextBoolean()) 0 else 3
  val params: Map[String, Any] = Map("size" -> size, "skip_ant" -> skipAnt, "corr" -> corrSel)
  private val amp = "sqrt(re*re + im*im)"

  /** (kind, argv builder for an output stem). */
  val kinds: Seq[(String, String => Seq[String])] = Seq(
    "uv_conj" -> (s => Seq("-x", "u", "-y", "v", "--conj", "--flag-col", "flag",
      "--where", s"ant1 <> $skipAnt", "--width", s"$size", "--height", s"$size",
      "--png", s"$s.png", "--out", s"$s.raster")),
    "amp_time_colour" -> (s => Seq("-x", "time", "-y", amp, "--colour-by", "corr",
      "--flag-col", "flag", "--width", s"$size", "--height", s"${size / 2}",
      "--png", s"$s.png", "--out", s"$s.raster")),
    "chan_time_mean" -> (s => Seq("-x", "chan", "-y", "time", "--ared", "mean",
      "--aaxis", amp, "--where", s"corr = $corrSel", "--flag-col", "flag",
      "--width", s"${size / 2}", "--height", s"$size", "--png", s"$s.png", "--out", s"$s.raster")),
    "iter_field" -> (s => Seq("-x", "u", "-y", "v", "--iter", "field", "--flag-col", "flag",
      "--width", s"${size / 2}", "--height", s"${size / 2}",
      "--png", s"$s.{}.png", "--out", s"$s.raster")),
    "batch" -> (s => Seq("--flag-col", "flag", "--width", s"$size", "--height", s"$size",
      "--plot", s"x:chan;y:$amp;ared:max;aaxis:$amp;png:$s.0.png;out:$s.0.raster",
      "--plot", s"x:u;y:v;norm:log;png:$s.1.png;out:$s.1.raster")))

  def argv(kind: String, stem: String, table: String = "ms"): Seq[String] =
    Seq("--dir", dataDir, "--table", table) ++ kinds.find(_._1 == kind).get._2(s"$outRoot/$stem")
}

final class Run(cfg: Harness.Config) {
  import Harness._

  private val nproc = Runtime.getRuntime.availableProcessors()
  private val master = s"local[$nproc]"
  private val tracer = new Tracer
  private val listener = new OpListener
  private val plotOps = new PlotOps(cfg.seed, cfg.data, s"${cfg.out}/plots")
  private var spark: SparkSession = _

  /** The op names of one pass. Plot kinds differ ~3x in cost: a fixed
    * order keeps the first op's leftover warm-up cost on the same kind for
    * every seed. */
  private def pass(): Seq[String] = cfg.workload match {
    case "plot-ms" => plotOps.kinds.map(_._1)
    case _ => pipelineLegs
  }

  private def openCatalog(s: SparkSession): Unit = {
    Engine.open(s, cfg.data)
    cfg.ms.foreach { p =>
      s.read.parquet(p).createOrReplaceTempView("ms")
      s.read.parquet(p).filter("time < 100").createOrReplaceTempView("ms_warm")
    }
  }

  /** Fixed warm-up, part of set-up: one small op through the workload's
    * entry point, writing the same kinds of output the measured ops do. */
  private def warmup(): Unit = cfg.workload match {
    case "plot-ms" => Cli.run(plotOps.argv("uv_conj", "warmup", table = "ms_warm"), spark)
    case _ => SparkEntry.queries("q62_text_clean")(spark, cfg.data).collect()
  }

  private var opIds = 0
  private def stem(id: Int, name: String) = s"op$id-$name"

  /** One op, untraced: the public entry point plus the action that makes
    * its result. */
  private def runOp(name: String, id: Int): () => Outcome = cfg.workload match {
    case "plot-ms" =>
      val argv = plotOps.argv(name, stem(id, name))
      Cli.run(argv, spark)
      () => Outcome(out = s"${cfg.out}/plots/${stem(id, name)}")
    case _ =>
      val df = SparkEntry.queries(name)(spark, cfg.data)
      val rows = df.collect()
      () => Outcome(rows.length, canonMd5(df.schema, rows), df.columns.sorted.mkString(","))
  }

  /** The same op, traced: spans around each layer's public call. */
  private def runOpTraced(name: String, id: Int): () => Outcome = cfg.workload match {
    case "plot-ms" =>
      val argv = plotOps.argv(name, stem(id, name))
      tracer.sampled("cli.run") { Cli.run(argv, spark) }
      () => Outcome(out = s"${cfg.out}/plots/${stem(id, name)}")
    case _ =>
      val t = tracer.span("tables.open") {
        val files0 = listedFiles()
        val t = Tables(spark, cfg.data)
        tablesOf(name).foreach(forceTable(t, _))
        tracer.count("tables.files_listed", listedFiles() - files0)
        t
      }
      legMemos.getOrElse(name, Nil).foreach { case (memo, get) =>
        val jobs0 = listener.jobsStarted.get
        tracer.span("tables.shared") { get(t) }
        val built = listener.jobsStarted.get > jobs0
        tracer.count("tables.shared_calls", 1)
        tracer.count("tables.shared_builds", if (built) 1 else 0)
      }
      val jobs0 = listener.jobsStarted.get
      val df = tracer.span("queries.construct") { constructors(name)(t) }
      tracer.count("queries.construct_jobs", listener.jobsStarted.get - jobs0)
      val rows = tracer.span("exec") { df.collect() }
      val ph = df.queryExecution.tracker.phases
      // analysis ran during construction, optimization and planning
      // during the action: record them as child spans of those layers
      Seq("analysis" -> "queries.construct", "optimization" -> "exec", "planning" -> "exec")
        .foreach { case (p, parent) =>
          ph.get(p).foreach(s => tracer.child(s"catalyst.$p", parent,
            s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        }
      () => Outcome(rows.length, canonMd5(df.schema, rows), df.columns.sorted.mkString(","))
  }

  /** Tables an op's query reads: the fixture names its oracle SQL cites. */
  private lazy val oracleSql = SparkEntry.oracleSql
  private def tablesOf(name: String): Seq[String] = {
    val sql = oracleSql.getOrElse(name, "").toLowerCase
    fixtureTables.filter(tn => s"\\b$tn\\b".r.findFirstIn(sql).isDefined)
  }

  private def forceTable(t: Tables, name: String): Unit = name match {
    case "region" => t.region; case "nation" => t.nation; case "customer" => t.customer
    case "supplier" => t.supplier; case "part" => t.part; case "orders" => t.orders
    case "lineitem" => t.lineitem; case "events" => t.events
    case "documents" => t.documents; case "embeddings" => t.embeddings
    case _ => ()
  }

  private def listedFiles(): Long =
    org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount

  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def cacheInfo(): (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  /** Per-op counters recorded only on traced runs. */
  private val opCounters = mutable.Map[Int, Map[String, Double]]()

  /** Times one op; its output digest is taken after the clock stops. */
  private def timed(op: String, passNo: Int, traced: Boolean): Done = {
    opIds += 1
    val id = opIds
    if (traced) {
      spark.sparkContext.setJobGroup(s"op$id", op, interruptOnCancel = false)
      tracer.beginOp(id)
    }
    val cg0 = codegenCompiles(); val gc0 = gcMs()
    val t0 = nowMs()
    val (result, err) =
      try ((if (traced) runOpTraced(op, id) else runOp(op, id)), "")
      catch { case e: Throwable =>
        (() => Outcome(), s"${e.getClass.getName}: ${e.getMessage}".take(400)) }
    val t1 = nowMs()
    val outcome = result()
    if (traced) {
      tracer.endOp(id, t0, t1)
      spark.sparkContext.clearJobGroup()
      val (entries, mb) = cacheInfo()
      opCounters.put(id, Map("codegen.compiles" -> (codegenCompiles() - cg0).toDouble,
        "jvm.gc_s" -> (gcMs() - gc0) / 1e3, "cache.entries_after_op" -> entries.toDouble,
        "cache.resident_mb_after_op" -> mb))
    }
    Done(id, passNo, op, t0, (t1 - t0) / 1e3, traced, outcome, err)
  }

  def execute(): Unit = {
    // set-up: from JVM start through session, catalog and warm-up
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val s0 = nowMs()
    spark = Engine.session(master = master)
    val sessionS = (nowMs() - s0) / 1e3
    openCatalog(spark)
    warmup()
    val setupS = (nowMs() - t0) / 1e3
    if (cfg.trace) spark.sparkContext.addSparkListener(listener)

    // closed loop, one client: a fixed number of whole passes, so the work
    // measured does not depend on the program's speed
    val done = mutable.ArrayBuffer[Done]()
    val start = nowMs()
    for (passNo <- 0 until cfg.passes) {
      if (cfg.workload == "llm-pipeline") clearCaches()
      pass().foreach(op => done += timed(op, passNo, cfg.trace))
    }
    val end = nowMs()

    val (entries, residentMb) = cacheInfo()
    // live heap: what the heap pools hold after full collections (repeated
    // so that objects released by the cleaners of the first are gone too)
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1e6
    val conf = spark.conf
    val record = Json.obj(Seq(
      "workload" -> Json.str(cfg.workload), "seed" -> cfg.seed.toString,
      "traced" -> cfg.trace.toString,
      "nproc" -> nproc.toString, "master" -> Json.str(spark.sparkContext.master),
      "spark" -> Json.str(spark.version), "jdk" -> Json.str(System.getProperty("java.version")),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1e6).toString,
      "aqe" -> Json.str(conf.get("spark.sql.adaptive.enabled")),
      "shuffle_partitions" -> Json.str(conf.get("spark.sql.shuffle.partitions")),
      "scheduler_mode" -> Json.str(spark.sparkContext.getConf.get("spark.scheduler.mode", "FIFO")),
      "plot_params" -> Json.obj(plotOps.params.toSeq.map { case (k, v) => k -> v.toString }),
      "passes" -> cfg.passes.toString))
    val ops = done.toSeq.map { d =>
      val base = Seq("id" -> d.id.toString, "pass" -> d.pass.toString,
        "name" -> Json.str(d.name), "start" -> d.start.toString,
        "latency" -> d.latency.toString, "traced" -> d.traced.toString,
        "rows" -> d.outcome.rows.toString, "md5" -> Json.str(d.outcome.md5), "cols" -> Json.str(d.outcome.cols),
        "out" -> Json.str(d.outcome.out),
        "error" -> Json.str(d.error))
      val counters = opCounters.get(d.id).toSeq.flatten.map { case (k, v) => k -> v.toString }
      Json.obj(base ++ counters)
    }
    Files.writeString(Paths.get(s"${cfg.out}/result.json"), Json.obj(Seq(
      "record" -> record,
      "setup_s" -> setupS.toString, "session_s" -> sessionS.toString,
      "measure_start" -> start.toString, "measure_end" -> end.toString,
      "cache_entries_end" -> entries.toString, "cache_resident_mb" -> residentMb.toString,
      "heap_live_end_mb" -> heapMb.toString, "cores" -> nproc.toString,
      "ops" -> Json.arr(ops),
      "spans" -> Json.arr(tracer.spansJson),
      "tasks" -> Json.arr(listener.tasksJson))))
    spark.stop()
  }

  /** The llm-pipeline pass start: drop cached and memoized intermediates
    * so each pass pays the shared builds once, as a per-corpus run does. */
  private def clearCaches(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    Tables.clearPairCache()
  }
}

/** In-memory span recorder. Explicit spans nest on a per-thread stack;
  * `sampled` attributes a call's wall time to the innermost layer frame
  * seen by a stack sampler (for calls whose layers run inside one public
  * entry point). */
final class Tracer {
  import Harness.nowMs
  final case class Span(op: Int, name: String, start: Double, end: Double, parent: String)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentLinkedQueue[(Int, String, Double)]()
  private val stack = ThreadLocal.withInitial[List[(String, Int)]](() => Nil)

  private def current: (String, Int) = stack.get.headOption.getOrElse(("op", -1))

  def beginOp(id: Int): Unit = stack.set(List("op" -> id))
  def endOp(id: Int, t0: Double, t1: Double): Unit = {
    spans.add(Span(id, "op", t0, t1, ""))
    stack.set(Nil)
  }

  def span[T](name: String)(body: => T): T = {
    val (parent, op) = current
    stack.set((name, op) :: stack.get)
    val t0 = nowMs()
    try body finally {
      spans.add(Span(op, name, t0, nowMs(), parent))
      stack.set(stack.get.tail)
    }
  }

  def child(name: String, parent: String, t0: Double, t1: Double): Unit =
    spans.add(Span(current._2, name, t0, t1, parent))

  def count(name: String, v: Double): Unit = counts.add((current._2, name, v))

  /** Frames that mark a layer inside `Cli.run`. The outermost match wins:
    * it is the call `Cli` itself made (a PNG render's own collect stays
    * `shadeplot.png`); actions `Cli` runs directly count as `exec`. */
  private val markers: Seq[(String, String)] = Seq(
    "graft.operators.Canvas$.auto" -> "shadeplot.range",
    "graft.operators.ShadePlot$.rasterByGroup" -> "shadeplot.raster",
    "graft.operators.ShadePlot$.raster" -> "shadeplot.raster",
    "graft.operators.ShadePlot$.shade" -> "shadeplot.shade",
    "graft.operators.ShadePlot$.writePng" -> "shadeplot.png",
    "org.apache.spark.sql.DataFrameWriter.parquet" -> "sink.parquet_write",
    "org.apache.spark.sql.classic.DataFrameWriter.parquet" -> "sink.parquet_write") ++
    Seq("count", "collect", "head", "take", "first").flatMap(a => Seq(
      s"org.apache.spark.sql.Dataset.$a" -> "exec", s"org.apache.spark.sql.classic.Dataset.$a" -> "exec"))

  def sampled[T](name: String)(body: => T): T = {
    val target = Thread.currentThread()
    val (parent, op) = current
    val samples = mutable.ArrayBuffer[(Double, String)]()
    @volatile var running = true
    val sampler = new Thread(() => {
      while (running) {
        // frames(0) is innermost, so walk them from the outside in
        val layer = target.getStackTrace.reverseIterator
          .map(f => s"${f.getClassName}.${f.getMethodName}")
          .flatMap(fn => markers.collectFirst { case (m, l) if fn.startsWith(m) => l })
          .nextOption().getOrElse(name)
        samples.synchronized { samples += (nowMs() -> layer) }
        Thread.sleep(2)
      }
    }, "span-sampler")
    val t0 = nowMs()
    sampler.setDaemon(true); sampler.start()
    try {
      stack.set((name, op) :: stack.get)
      body
    } finally {
      running = false; sampler.join()
      val t1 = nowMs()
      stack.set(stack.get.tail)
      spans.add(Span(op, name, t0, t1, parent))
      // runs of equal samples become child spans; each sample stands for
      // the interval up to the next one
      val s = samples.synchronized(samples.toSeq) :+ (t1 -> "")
      var i = 0
      while (i < s.size - 1) {
        var j = i
        while (j + 1 < s.size - 1 && s(j + 1)._2 == s(i)._2) j += 1
        if (s(i)._2 != name) spans.add(Span(op, s(i)._2, s(i)._1, s(j + 1)._1, name))
        i = j + 1
      }
    }
  }

  def spansJson: Seq[String] =
    spans.asScala.toSeq.map(s => Json.obj(Seq("op" -> s.op.toString, "name" -> Json.str(s.name),
      "start" -> s.start.toString, "end" -> s.end.toString, "parent" -> Json.str(s.parent)))) ++
    counts.asScala.toSeq.map { case (op, n, v) =>
      Json.obj(Seq("op" -> op.toString, "count" -> Json.str(n), "value" -> v.toString)) }
}

/** Benchmark-owned listener: jobs, stages and task metrics, attributed to
  * ops through the job group each traced op sets. */
final class OpListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  val jobsStarted = new java.util.concurrent.atomic.AtomicLong(0)
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val rows = new ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageOp.put(s, group))
    rows.add(Json.obj(Seq("op" -> Json.str(group), "kind" -> Json.str("job"),
      "time" -> e.time.toString)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    rows.add(Json.obj(Seq("op" -> Json.str(stageOp.getOrDefault(si.stageId, "")),
      "kind" -> Json.str("stage"), "tasks" -> si.numTasks.toString)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m == null || info == null) return
    val sched = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - info.gettingResultTime)
    rows.add(Json.obj(Seq("op" -> Json.str(stageOp.getOrDefault(e.stageId, "")),
      "kind" -> Json.str("task"), "run_ms" -> m.executorRunTime.toString,
      "cpu_ns" -> m.executorCpuTime.toString, "gc_ms" -> m.jvmGCTime.toString,
      "sched_ms" -> sched.toString, "input_b" -> m.inputMetrics.bytesRead.toString,
      "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten.toString,
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toString,
      "result_b" -> m.resultSize.toString)))
  }

  def tasksJson: Seq[String] = rows.asScala.toSeq
}

/** Minimal JSON writer: values are passed pre-rendered (numbers through
  * `toString`, which is locale-independent). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
