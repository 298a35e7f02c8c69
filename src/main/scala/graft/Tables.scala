package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table catalog over one testdata scale-factor directory.
  *
  * Plays the role of the reference's table-open + metadata step
  * (`shade_ms/ms_info.py :: MSInfo`, `shade_ms/data_plots.py ::
  * get_plot_data` [U]): open the main fact tables plus the small dimension
  * tables. Column pruning and predicate pushdown are left to Catalyst — the
  * parquet scan only reads what downstream plans reference, which is the
  * Spark-native analogue of `xds_from_ms(columns=..., taql=...)`.
  *
  * All loads are lazy `DataFrame`s: nothing is read until an action runs.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // Native Catalyst functions (cosine_similarity, …) must exist in the
  // session registry before plans reference them; idempotent.
  graft.plans.GraftFunctions.ensureRegistered(spark)

  /** Schemas are pinned (FIXTURES.md) rather than inferred: skipping the
    * driver-side footer read saves ~90 ms per table construction, and at
    * production scale avoids a listing+footer fetch on every query. */
  private def load(name: String): DataFrame =
    spark.read.schema(Tables.schemas(name)).parquet(s"$dir/$name.parquet")

  lazy val region: DataFrame    = load("region")
  lazy val nation: DataFrame    = load("nation")
  lazy val customer: DataFrame  = load("customer")
  lazy val supplier: DataFrame  = load("supplier")
  lazy val part: DataFrame      = load("part")
  lazy val orders: DataFrame    = load("orders")
  lazy val lineitem: DataFrame  = load("lineitem")
  lazy val documents: DataFrame = load("documents")
  lazy val embeddings: DataFrame = load("embeddings")
  lazy val events: DataFrame    = load("events")

  /** The MinHash+LSH near-dup pair table over `documents` at the default
    * parameters, memoized per (session, dir): q57, q72 and q85 all
    * consume the IDENTICAL pair set, so a suite session computes the
    * signature+band pipeline once instead of three times (the round-7
    * plan audit measured ~2 s of pure recompute at sf0.1). The result is
    * already materialized by `minHashNearDups`; the cache owns that
    * handle — consumers must NOT run it through `withPairs` (the release
    * would drop its rows under the next query). Bounded:
    * one small-by-LSH-design pair table per scale dir. Long-lived
    * sessions that are done with dedup call [[Tables.clearPairCache]].
    *
    * The table is a local checkpoint ([[Materialize]]), so it pins
    * none of its build plan. `clearCache` does not touch memo
    * checkpoints; `clearPairCache` releases them. */
  def documentNearDupPairs: DataFrame =
    Tables.memo(spark, dir, "pairs") { () =>
      graft.operators.Dedup.minHashNearDups(documents, col("doc_id"), col("text"))
    }

  /** The RESOLVED component table `(id, rep)` over
    * [[documentNearDupPairs]], memoized with the same (session, dir)
    * keying: q57, q85, q106 and q109 all consume the identical
    * clustering, so a suite session runs the iterative
    * connectedComponents ONCE instead of four times (the round-8 bench
    * measured ~4.5 s of pure CC recompute at sf0.1).
    * `connectedComponents` already returns its last round's local
    * checkpoint, which is what the memo holds. q72 deliberately stays
    * OFF this memo: its point is re-resolving the same pair table
    * through the independent large-star/small-star algorithm. */
  def documentNearDupComponents: DataFrame =
    Tables.memo(spark, dir, "components") { () =>
      graft.operators.Dedup.connectedComponents(documentNearDupPairs)
    }

  /** Shared TRAINED CENTROIDS (k = 8, 2 Lloyd rounds over the embeddings)
    * — the third suite-level memoized input: q165 (silhouette), q168
    * (ARI) and q169 (NMI) all audit the IDENTICAL trained clustering, so
    * a suite session runs the two broadcast-assignment Lloyd passes once
    * instead of three times (each pass is a corpus scan + a driver
    * k-row collect — the r16 bench sweep measured ~2 s of pure recompute
    * per consumer at sf0.1). q142 deliberately stays OFF the memo (it IS
    * the gate for the training computation) and so does q160 (it gates
    * the k-means‖-seeded composition, a different trajectory). The
    * trained table is k driver-side rows, already a materialized leaf. */
  def embeddingCentroids8: DataFrame =
    Tables.memo(spark, dir, "centroids8") { () =>
      Materialize(graft.operators.Similarity.trainCentroids(
        embeddings.select(col("vec_id"),
          col("embedding").cast("array<double>").as("e")),
        k = 8, iters = 2, dim = 64))
    }

  /** Shared HASHED FEATURE-PAIR table at dims = 32
    * ([[graft.operators.TextAnalysis.hashedFeaturePairs]] over the full
    * corpus) — the fifth suite-level memoized input (r21, the r20
    * deferred item 1b): q141 (training AND its `doc_id % 20 == 7`
    * scoring slice — per-id rows, so the slice is a plain filter of
    * this table) and q147 (all five one-vs-rest langid models)
    * featurize the IDENTICAL corpus at the identical dims, so a suite
    * session pays the tokenize+hash explode once instead of three
    * times. Same (session, dir) keying and local checkpoint as the
    * pair-table memo: `clearCache` does not touch memo checkpoints;
    * `clearPairCache` releases them. Bench times the build as its own
    * `shared_hashed_fp32` entry and times both consumers warm. */
  def hashedFeaturePairs32: DataFrame =
    Tables.memo(spark, dir, "fp32") { () =>
      Materialize(graft.operators.TextAnalysis.hashedFeaturePairs(
        documents, col("doc_id"), col("text"), dims = 32))
    }

  /** Shared BIGRAM-LM CROSS-ENTROPY scores
    * ([[graft.operators.TextAnalysis.bigramCrossEntropy]] over the full
    * corpus, target = `lang = 'en'`) — the sixth suite-level memoized
    * input (r21, the r20 deferred item 1b): q117 (the score gate) and
    * q137 (the CCNet bucketing downstream) consume the IDENTICAL
    * trained-LM scoring chain — two corpus explodes + two vocab
    * aggregates + the scoring joins — so a suite session runs it once
    * instead of twice. Bounded: one (id, n_bigrams, ce) row per doc.
    * Bench entry: `shared_bigram_ce`. */
  def bigramCeScores: DataFrame =
    Tables.memo(spark, dir, "bigramCe") { () =>
      Materialize(graft.operators.TextAnalysis.bigramCrossEntropy(
        documents, col("doc_id"), col("text"),
        isTarget = col("lang") === "en"))
    }
}

object Tables {
  private val memoCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), AnyRef]()

  /** Shared (session, dir, kind)-keyed memo for suite-level derived
    * inputs: the materialized tables above and driver-resident values such
    * as [[graft.PipelineQueries.sharedClassifierWeights]]. A DataFrame
    * value is valid while it is [[Materialize.isLive]], so a
    * handle whose storage was released is discarded and rebuilt; any
    * other value is always valid. Entries of
    * a STOPPED SparkSession are purged on every call, so a long-lived
    * JVM that churns sessions (test suites) cannot leak them. */
  def memo[T <: AnyRef](spark: SparkSession, dir: String, kind: String)(
      build: () => T): T = memoCache.synchronized {
    // NOT ConcurrentHashMap.compute: the components build re-enters this
    // memo for its pair-table input, and compute() is non-reentrant
    // (recursive-update). A monitor is reentrant, and still gives the
    // build-once-per-key guarantee across threads.
    memoCache.keySet.forEach { k =>
      if (k._1.sparkContext.isStopped) { memoCache.remove(k); () }
    }
    val key = (spark, dir, kind)
    val existing = memoCache.get(key)
    val valid = existing match {
      case null => false
      case ds: Dataset[_] => Materialize.isLive(ds)
      case _ => true
    }
    if (valid) existing.asInstanceOf[T]
    else { val built = build(); memoCache.put(key, built); built }
  }

  /** Release every memoized input: release the DataFrame values' stored
    * rows, then drop all entries, so cold-timing harness reps rebuild
    * each one. */
  def clearPairCache(): Unit = {
    memoCache.values.forEach {
      case ds: Dataset[_] => Materialize.release(ds)
      case _              => ()
    }
    memoCache.clear()
  }

  /** A file-source stream over a directory of events parquet, on the
    * pinned schema (so it also starts on a dir whose files arrive later). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schemas("events")).parquet(dir)

  /** Schema-drift guard: diff every pinned schema against the actual
    * parquet footers under `dir` and fail LOUDLY, naming each divergent
    * column with both types, instead of letting a silently-changed file
    * compute garbage (round 9 lost 11 correctness rows to exactly that:
    * `events.ts` flipped TIMESTAMP(NANOS) → timestamp[us] and the stale
    * nanos view read 2024 data as 1970). Field comparison is by name +
    * dataType, ignoring nullability/metadata; extra columns in the file
    * are fine (pruned), missing ones are drift. A footer Spark cannot
    * infer at all (a TIMESTAMP(NANOS) column is `[PARQUET_TYPE_ILLEGAL]`,
    * a message that names no table) is reported under its table's name.
    * One footer read per table — call once per run (Verify does), not
    * per query. */
  def assertSchemasMatch(spark: SparkSession, dir: String): Unit = {
    // TIMESTAMP vs TIMESTAMP_NTZ is not drift: the testdata stores NTZ
    // (isAdjustedToUTC=false) and the pinned TimestampType read is
    // bit-identical under the mandated UTC session timezone.
    def norm(dt: DataType): DataType = dt match {
      case TimestampNTZType => TimestampType
      case other            => other
    }
    val diffs = schemas.toSeq.sortBy(_._1).flatMap { case (name, pinned) =>
      scala.util.Try(spark.read.parquet(s"$dir/$name.parquet").schema) match {
        case scala.util.Failure(e) => Seq(s"$name: unreadable footer: ${e.getMessage}")
        case scala.util.Success(actual) => pinned.flatMap { f =>
          actual.fields.find(_.name == f.name) match {
            case None =>
              Some(s"$name.${f.name}: pinned ${f.dataType.sql}, MISSING from file")
            case Some(a) if norm(a.dataType) != norm(f.dataType) =>
              Some(s"$name.${f.name}: pinned ${f.dataType.sql}, file has ${a.dataType.sql}")
            case _ => None
          }
        }
      }
    }
    if (diffs.nonEmpty) throw new IllegalStateException(
      s"schema drift between pinned Tables.schemas and parquet files in $dir:\n  " +
        diffs.mkString("\n  "))
  }

  /** Pinned logical schemas (FIXTURES.md). The timestamp columns
    * (`events.ts`, `o_orderdate`, `l_shipdate`) are TimestampType over
    * the files' `timestamp[us]`. */
  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))),
  )
}
