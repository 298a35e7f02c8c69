package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Persisted per-query execution profiles — the Spark analogue of the
  * reference's `--profile` dask performance-report dump (`shade_ms/main.py
  * :: main` [U] writes an HTML profile per run). The live Spark UI plays
  * that role interactively, but it is disabled in headless runs and leaves
  * no artifact; this aggregates the executor task metrics for a profiled
  * action through a `SparkListener` and persists one JSON file — where the
  * time went (jobs/stages/tasks, input and shuffle volume, spill, CPU vs
  * GC, peak execution memory) without any UI.
  *
  * Scale posture: the listener keeps a fixed handful of counters — nothing
  * per-task is retained, so profiling a 100 TB query costs a few atomic
  * adds per task and O(1) memory on the driver.
  */
object Profiling {

  final case class QueryProfile(
      name: String, wallSec: Double, rows: Long,
      jobs: Int, stages: Int, tasks: Int,
      inputBytes: Long, inputRecords: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spilledBytes: Long, cpuSec: Double, gcSec: Double,
      peakExecutionMemory: Long) {
    def toJson: String =
      s"""{"name":"$name","wall_sec":$wallSec,"rows":$rows,""" +
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""input_bytes":$inputBytes,"input_records":$inputRecords,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""spilled_bytes":$spilledBytes,"cpu_sec":$cpuSec,"gc_sec":$gcSec,""" +
      s""""peak_execution_memory":$peakExecutionMemory}"""
  }

  /** Bounded-state metrics sink: a handful of atomics, updated per event. */
  private final class MetricsListener extends SparkListener {
    val jobsStarted = new AtomicInteger
    val jobsEnded   = new AtomicInteger
    val stages      = new AtomicInteger
    val tasks       = new AtomicInteger
    val inputBytes, inputRecords, shuffleRead, shuffleWrite,
        spilled, cpuNs, gcMs, peakMem = new AtomicLong

    override def onJobStart(j: SparkListenerJobStart): Unit = { jobsStarted.incrementAndGet(); () }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = { jobsEnded.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        inputRecords.addAndGet(m.inputMetrics.recordsRead)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        peakMem.updateAndGet(p => math.max(p, m.peakExecutionMemory))
        ()
      }
    }
  }

  /** Run `body` with a metrics listener attached; return (result, profile).
    * `rows` is whatever count `body` reports of itself.
    *
    * The listener bus is ASYNCHRONOUS and delivers backlogged events to
    * listeners attached after the event was posted, so naive counters
    * both leak earlier work into the window and can read zero before the
    * window's own events arrive. Scope caveat: the listener sits on the
    * SESSION-GLOBAL bus, so jobs other threads of this SparkSession
    * launch DURING the window (concurrent queries, active streams,
    * shared-memo builds) are attributed to this profile — the baseline
    * subtraction absorbs only pre-window backlog, not concurrent work.
    * Callers must profile on a quiet session (the [[Profile]] driver
    * runs strictly one query at a time and satisfies this).
    * Two defenses: (a) after attaching, wait
    * for the counters to go QUIET (no event for `settleMs`) and snapshot
    * a baseline that is subtracted out — pre-window backlog is absorbed
    * into the baseline instead of the profile; (b) after the action,
    * wait until every started job reported its end AND the counters have
    * been stable for `settleMs`. Both waits are deadline-bounded: a
    * timeout degrades the METRICS (never the result). `peakMem` is a max
    * (not subtractable) — with the settle wait it is overwhelmingly the
    * window's own, worst case an overestimate from backlog. */
  def profiled[T](spark: SparkSession, name: String)(body: => (T, Long)): (T, QueryProfile) = {
    val l = new MetricsListener
    val settleMs = 100L
    def snapshot(): Seq[Long] = Seq(
      l.jobsStarted.get.toLong, l.jobsEnded.get.toLong, l.stages.get.toLong,
      l.tasks.get.toLong, l.inputBytes.get, l.inputRecords.get,
      l.shuffleRead.get, l.shuffleWrite.get, l.spilled.get,
      l.cpuNs.get, l.gcMs.get)
    def awaitQuiet(deadline: Long, alsoJobsClosed: Boolean): Seq[Long] = {
      var prev = snapshot()
      var quietSince = System.currentTimeMillis()
      while (System.currentTimeMillis() < deadline) {
        Thread.sleep(10)
        val cur = snapshot()
        if (cur != prev) { prev = cur; quietSince = System.currentTimeMillis() }
        else if (System.currentTimeMillis() - quietSince >= settleMs &&
                 (!alsoJobsClosed || l.jobsEnded.get >= l.jobsStarted.get))
          return cur
      }
      prev
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // drain any backlog into the baseline before the window opens
      val base = awaitQuiet(System.currentTimeMillis() + 2000, alsoJobsClosed = false)
      val t0 = System.nanoTime()
      val (result, rows) = body
      val wall = (System.nanoTime() - t0) / 1e9
      val fin = awaitQuiet(System.currentTimeMillis() + 5000, alsoJobsClosed = true)
      val d = fin.zip(base).map { case (a, b) => a - b }
      (result, QueryProfile(
        name, wall, rows,
        d(0).toInt, d(2).toInt, d(3).toInt,
        d(4), d(5), d(6), d(7), d(8), d(9) / 1e9, d(10) / 1e3,
        l.peakMem.get))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Profile one query end-to-end (collect-forced, like Bench). */
  def profileQuery(spark: SparkSession, name: String, sfDir: String): QueryProfile =
    profiled(spark, name) {
      val rows = SparkEntry.queries(name)(spark, sfDir).collect().length.toLong
      ((), rows)
    }._2

  /** Write profiles as one JSON array artifact. */
  def dump(profiles: Seq[QueryProfile], path: String): Unit = {
    val parent = Paths.get(path).getParent
    if (parent != null) Files.createDirectories(parent)
    Files.writeString(Paths.get(path),
      profiles.map(_.toJson).mkString("[\n", ",\n", "\n]\n"))
    ()
  }
}

/** `runMain graft.Profile <sfDir> <outJson> [query ...]` — profile the
  * named queries (default: EVERY gated query, extensions included) and
  * persist the per-query JSON artifact. */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <outJson> [query ...]")
    val (sfDir, outPath) = (args(0), args(1))
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Engine.session(Engine.localMaster)
    spark.sparkContext.setLogLevel("WARN")
    // a/b switch for the drift gate (scripts/profile_drift.py): profiling
    // with broadcasts disabled must TRIP the shuffle_read_bytes gate
    // against a normal-run baseline — proves the gate catches the
    // lost-broadcast plan regression it exists for
    if (sys.env.get("SPARK_GRAFT_DISABLE_BROADCAST").contains("1"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      names.foreach(n => SparkEntry.queries(n)(spark, sfDir).collect()) // warm
      val profiles = names.map(n => Profiling.profileQuery(spark, n, sfDir))
      Profiling.dump(profiles, outPath)
      println(s"[profile] ${profiles.size} queries -> $outPath")
    } finally spark.stop()
  }
}
