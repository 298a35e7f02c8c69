package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + catalog facade: the engine's "open the Measurement Set" entry
  * point (`shade_ms/main.py :: main` opening the MS and `MSInfo` building
  * the catalog [U]).
  *
  * [[Engine.session]] is the one place a SparkSession is built: every
  * main and the test suite pick a [[Engine.Profile]] instead of copying
  * configs (UTC, nanos-as-long, graft native functions registered via
  * the extensions mechanism). [[Engine.open]] loads a scale-factor
  * directory and registers every table as a temp view, which gives users
  * free-form `spark.sql(...)` over the catalog — the analogue of the
  * reference's `--taql` arbitrary-predicate passthrough, except the whole
  * query surface is open, not just WHERE.
  */
object Engine {

  /** A closed set of session flavours; each states the confs it adds to
    * the common ones exactly once. */
  sealed trait Profile { def confs: Map[String, String] }
  object Profile {
    /** Production and CLI: nothing beyond the common confs. */
    case object Default extends Profile { def confs: Map[String, String] = Map.empty }

    /** Timing harnesses, sized for the bench scale factor (~600 k rows),
      * NOT for production: AQE is off because per-stage materialization
      * latency dominates at toy scale, `maxPartitionBytes=1m` splits the
      * ≤11 MB files across cores, and shuffle files live in RAM when
      * `/dev/shm` exists. */
    case object Bench extends Profile {
      def confs: Map[String, String] = Map(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.files.maxPartitionBytes" -> "1m",
        "spark.locality.wait" -> "0",
        "spark.local.dir" ->
          (if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-graft-bench"
           else System.getProperty("java.io.tmpdir")))
    }

    /** The test JVM, where one session hosts every suite and test code
      * holds plans/broadcasts alive across hundreds of tiny queries: 1 MiB
      * Tungsten pages (not 64 MiB per broadcast relation and agg map), the
      * single-level agg map (the two-level fast map pins an unspillable
      * page per agg per task, which livelocked the execution pool
      * mid-suite), and a context-cleaner GC every minute (the 30 min
      * default outlived the suite, so dropped broadcasts stayed pinned). */
    case object Test extends Profile {
      def confs: Map[String, String] = Map(
        "spark.buffer.pageSize" -> "1m",
        "spark.sql.codegen.aggregate.map.twolevel.enabled" -> "false",
        "spark.cleaner.periodicGC.interval" -> "1min")
    }
  }

  /** Core count for local masters: `SPARK_GRAFT_CPUS`, else the JVM's
    * view of `nproc`. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]`. */
  def localMaster: String = s"local[$cpus]"

  /** The full conf map a session of `profile` is built with. */
  def confs(shufflePartitions: Int, profile: Profile): Map[String, String] =
    Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.warehouse.dir" ->
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse",
      "spark.ui.enabled" -> "false") ++ profile.confs

  def session(
      master: String = "local[*]",
      shufflePartitions: Int = 32,
      profile: Profile = Profile.Default): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft")
      .master(master)
      .config(confs(shufflePartitions, profile))
      .getOrCreate()
    graft.plans.GraftFunctions.ensureRegistered(spark)
    spark
  }

  /** Open a data directory as a catalog: loads all tables (events
    * normalized) and registers them as temp views for SQL access. */
  def open(spark: SparkSession, dir: String): Tables = {
    val t = Tables(spark, dir)
    Tables.schemas.keys.foreach {
      case "events" => t.events.createOrReplaceTempView("events")
      case name =>
        val df: DataFrame = name match {
          case "region" => t.region;     case "nation" => t.nation
          case "customer" => t.customer; case "supplier" => t.supplier
          case "part" => t.part;         case "orders" => t.orders
          case "lineitem" => t.lineitem; case "documents" => t.documents
          case "embeddings" => t.embeddings
        }
        df.createOrReplaceTempView(name)
    }
    t
  }
}
