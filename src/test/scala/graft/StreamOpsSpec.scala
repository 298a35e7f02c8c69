package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamOps

class StreamOpsSpec extends SparkSpec {

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("events-streamops")
    Files.copy(
      Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  private def eventsStream = Tables.eventsStream(spark, streamDir)

  test("StreamOps.tumbling over a stream equals the direct batch aggregate") {
    val q = StreamOps.tumbling(eventsStream, col("ts"), "1 hour",
        Seq(col("event_type")), Seq(count(lit(1)).as("n")))
      .writeStream.format("memory").queryName("so_t").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("so_t")
      .select(col("window.start").as("h"), col("event_type"), col("n")).collect().toSet
    val want = sf0001.events
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect().toSet
    assert(got == want)
  }

  test("StreamOps.sliding windows assign each event to duration/slide windows") {
    val q = StreamOps.sliding(eventsStream, col("ts"), "1 hour", "30 minutes",
        Seq.empty, Seq(count(lit(1)).as("n")))
      .writeStream.format("memory").queryName("so_s").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // every event lands in exactly duration/slide = 2 windows
    val total = spark.table("so_s").agg(sum("n")).head().getLong(0)
    assert(total == 2 * sf0001.events.count())
  }

  test("dedupWithinWatermark suppresses exact duplicates in-stream") {
    // duplicate every event: stream the file twice under one directory
    val dir = Files.createTempDirectory("events-dup")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val dupStream = Tables.eventsStream(spark, dir.toString)
    val q = StreamOps.dedupWithinWatermark(dupStream, "ts", "1 hour", Seq("event_id"))
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("so_d").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n = spark.table("so_d").head().getLong(0)
    assert(n == sf0001.events.count(), "each duplicated event kept exactly once")
  }

  test("nearDupWithinWatermark suppresses signature-identical docs, parity with batch q31 est=1.0") {
    import spark.implicits._
    import graft.operators.Dedup
    // 1==2 exact dup; 3 near-dup of 1 (est < 1 -> must be KEPT);
    // 4==5 exact dup; 6,7 too short to sign (must both be KEPT)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy cat again and again today"),
      (4L, "completely different content with no shared trigram shingles here now"),
      (5L, "completely different content with no shared trigram shingles here now"),
      (6L, "tiny doc"),
      (7L, "tiny doc")
    ).toDF("doc_id", "text")
      .withColumn("ts", expr("timestamp_seconds(1704067200 + doc_id)"))
    val dir = Files.createTempDirectory("docs-neardup")
    corpus.write.mode("overwrite").parquet(dir.toString)

    val docsStream = spark.readStream.schema(corpus.schema).parquet(dir.toString)
    val q = StreamOps.nearDupWithinWatermark(
        docsStream, col("doc_id"), col("text"), "ts", "1 hour")
      .writeStream.format("memory").queryName("so_nd").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.table("so_nd").select("doc_id")
      .as[Long].collect().toSet

    // batch q31 pipeline on the same corpus: est=1.0 pairs are the
    // signature-identical groups the stream must collapse
    val est1 = Dedup.withPairs(
      Dedup.minHashNearDups(corpus, col("doc_id"), col("text")))(
      _.filter(col("est") === 1.0).as[(Long, Long, Double)].collect()
        .map(p => Set(p._1, p._2)).toSeq)
    assert(est1.toSet == Set(Set(1L, 2L), Set(4L, 5L)), s"batch est=1.0 pairs: $est1")

    // exactly one survivor per signature-identical group
    est1.foreach { pair =>
      assert((kept & pair).size == 1, s"group $pair: kept=$kept")
    }
    // everything not signature-identical to a kept doc is kept: the
    // sub-1.0 near-dup, the disjoint doc, and both unsignable short docs
    assert(kept.contains(3L), "est<1 near-dup must NOT be suppressed")
    assert(kept.contains(6L) && kept.contains(7L),
      "unsignable docs must always pass (unique fallback key)")
    assert(kept.size == 5, s"kept=$kept")
  }

  test("decontaminationGuard admits exactly the batch-clean docs (stream-static parity)") {
    val docsDir = Files.createTempDirectory("docs-decon-stream")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      docsDir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema(Tables.schemas("documents")).parquet(docsDir.toString)
    // the q74 setup: doc_id % 7 == 0 plays the eval suite; the stream
    // carries the train side
    val evalDocs = sf0001.documents.filter(col("doc_id") % 7 === 0)
    val trainStream = docsStream.filter(col("doc_id") % 7 =!= 0)
    val admitted = StreamOps.decontaminationGuard(
      trainStream, col("text"), evalDocs, col("doc_id"), col("text"), n = 5)
    assert(admitted.isStreaming, "the guard must stay a streaming frame")
    val q = admitted.writeStream.format("memory").queryName("so_decon")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("so_decon").select("doc_id").collect().map(_.getLong(0)).toSet

    val train = sf0001.documents.filter(col("doc_id") % 7 =!= 0)
    val flagged = graft.operators.Dedup.crossContamination(
        train, evalDocs, col("doc_id"), col("text"), n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = train.select("doc_id").collect().map(_.getLong(0)).toSet -- flagged
    assert(flagged.nonEmpty, "fixture must contain contamination for the test to bite")
    assert(got == want, s"stream-admitted set must equal batch-clean set " +
      s"(missing=${want -- got}, extra=${got -- want})")
  }

  test("decontaminationGuard survives input columns named w / __shingles") {
    import spark.implicits._
    // batch-mode regression: before the collision-proof internal names,
    // a stream already carrying `w` hit an ambiguous-reference error and
    // the guard's cleanup dropped the user's column
    val docs = Seq(
      (1L, "the capital of france is paris indeed it is", "keepme", "alsokeep"),
      (2L, "entirely unrelated words describing other things here now", "w2", "s2")
    ).toDF("doc_id", "text", "w", "__shingles")
    val evalDocs = Seq((100L, "the capital of france is paris")).toDF("doc_id", "text")
    val got = StreamOps.decontaminationGuard(
      docs, col("text"), evalDocs, col("doc_id"), col("text"), n = 5)
    assert(got.columns.toSeq == Seq("doc_id", "text", "w", "__shingles"),
      s"user columns must survive: ${got.columns.toSeq}")
    val rows = got.select("doc_id", "w", "__shingles")
      .as[(Long, String, String)].collect().toSet
    assert(rows == Set((2L, "w2", "s2")), s"got $rows")
  }

  test("exactDupGuard admits exactly the corpus-absent docs (stream-static anti join)") {
    import spark.implicits._
    val docsDir = Files.createTempDirectory("docs-exactdup-stream")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      docsDir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema(Tables.schemas("documents")).parquet(docsDir.toString)
    // the q87 setup: docs with doc_id % 5 != 0 are the corpus; the stream
    // replays the WHOLE table, so corpus members must be suppressed and
    // the % 5 == 0 novel docs admitted
    val corpusHashes = sf0001.documents.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), md5(col("text")).as("md5"))
    val admitted = StreamOps.exactDupGuard(docsStream, col("text"), corpusHashes)
    assert(admitted.isStreaming, "the guard must stay a streaming frame")
    val q = admitted.writeStream.format("memory").queryName("so_exactdup")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("so_exactdup").select("doc_id")
      .as[Long].collect().toSet
    val want = sf0001.documents.filter(col("doc_id") % 5 === 0)
      .select("doc_id").as[Long].collect().toSet
    assert(got == want, s"admitted set must be the novel docs " +
      s"(missing=${want -- got}, extra=${got -- want})")
  }

  test("indexIngestStream: streamed code table ≡ q152's batch indexIngest, row for row") {
    import spark.implicits._
    import graft.operators.Similarity
    // q152's exact setup: % 50 == 0 arrives as the new batch; centroids
    // and codebook are persisted artifacts of the earlier index build
    val e = sf0001.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val index = e.filter(col("vec_id") % 50 =!= 0)
    val batch = e.filter(col("vec_id") % 50 === 0)
    val centroids = index.filter(col("vec_id") >= 1 && col("vec_id") < 9)
    val cb = Similarity.pqCodebook(index, m = 4, ksub = 16, dim = 64, trainFrom = 1)
    val dir = Files.createTempDirectory("ingest-stream")
    batch.write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(batch.schema).parquet(dir.toString)
    val out = StreamOps.indexIngestStream(stream, centroids, cb, m = 4, dim = 64)
    assert(out.isStreaming, "the ingest must stay a streaming frame")
    val q = out.writeStream.format("memory").queryName("so_ingest")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("so_ingest").select("vec_id", "cid", "j", "code")
      .as[(Long, Long, Int, Long)].collect().toSet
    val want = Similarity.indexIngest(batch, centroids, cb, m = 4, dim = 64)
      .select(col("vec_id"), col("cid"), col("j"), col("code").cast("long"))
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(got.nonEmpty, "the replayed batch must produce code rows")
    assert(got == want,
      s"stream/batch code tables differ (missing=${(want -- got).take(5)}, " +
      s"extra=${(got -- want).take(5)})")
  }

  test("stateless pipeline ops (hash sampling, quality gate) run unchanged on streams") {
    // the Spark-first payoff: Sampling/Cleaning are plain Column
    // predicates, so the SAME operator code drives batch and readStream —
    // nothing to reimplement for the streaming ingest path
    val docsDir = Files.createTempDirectory("docs-stream")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      docsDir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream
      .schema(Tables.schemas("documents")).parquet(docsDir.toString)
    val staged = graft.operators.Cleaning.clean(
      graft.operators.Sampling.hashSample(docsStream, col("doc_id"), 0.5),
      col("text"))
    assert(staged.isStreaming, "the composed pipeline must still be a streaming frame")
    val q = staged.writeStream.format("memory").queryName("so_s")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("so_s").select("doc_id").collect().map(_.getLong(0)).toSet
    val want = graft.operators.Cleaning.clean(
        graft.operators.Sampling.hashSample(sf0001.documents, col("doc_id"), 0.5),
        col("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty, "stream and batch select identical rows")
  }

  test("hashSplit labels a stream identically to batch (pure projection)") {
    // the train/val/test assignment is a labeling projection, so the
    // arriving stream gets the SAME split a batch backfill would — the
    // property that lets an online ingest and an offline rebuild agree
    import spark.implicits._
    val docsDir = Files.createTempDirectory("docs-split-stream")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      docsDir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val labeled = graft.operators.Sampling.hashSplit(
      spark.readStream.schema(Tables.schemas("documents")).parquet(docsDir.toString),
      col("doc_id"), splits)
    assert(labeled.isStreaming)
    val q = labeled.select("doc_id", "split").writeStream.format("memory")
      .queryName("split_s").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("split_s").as[(Long, String)].collect().toMap
    val want = graft.operators.Sampling.hashSplit(sf0001.documents, col("doc_id"), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got == want && got.nonEmpty, "stream and batch must assign identical splits")
  }

  test("gopherRules is a stateless projection: streams unchanged, parity with batch") {
    import graft.operators.Cleaning
    val dir = Files.createTempDirectory("docs-gopher")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream.schema(Tables.schemas("documents"))
      .parquet(dir.toString)
    val q = Cleaning.gopherRules(docsStream, col("doc_id"), col("text"))
      .writeStream.format("memory").queryName("gopher_s").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("gopher_s").collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("n_words"),
        r.getAs[Long]("stop_hits"), r.getAs[Double]("top2_frac"),
        r.getAs[Boolean]("keep"))).toMap
    val batch = Cleaning.gopherRules(sf0001.documents, col("doc_id"), col("text"))
      .collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("n_words"),
        r.getAs[Long]("stop_hits"), r.getAs[Double]("top2_frac"),
        r.getAs[Boolean]("keep"))).toMap
    assert(streamed.size == batch.size && streamed == batch,
      "streamed quality gate must equal the batch gate row for row")
  }

  test("gopherRulesFull is stateless too: full-battery stream/batch parity") {
    import graft.operators.Cleaning
    val dir = Files.createTempDirectory("docs-gopher-full")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docsStream = spark.readStream.schema(Tables.schemas("documents"))
      .parquet(dir.toString)
    def key(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("id") -> (r.getAs[Long]("n_words"), r.getAs[Long]("n_lines"),
        r.getAs[Double]("dup_line_frac"), r.getAs[Double]("dup_para_frac"),
        r.getAs[Double]("top3_frac"), r.getAs[Double]("top4_frac"),
        r.getAs[Boolean]("keep"))
    val q = Cleaning.gopherRulesFull(docsStream, col("doc_id"), col("text"))
      .writeStream.format("memory").queryName("gopher_full_s").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("gopher_full_s").collect().map(key).toMap
    val batch = Cleaning.gopherRulesFull(sf0001.documents, col("doc_id"), col("text"))
      .collect().map(key).toMap
    assert(streamed.size == batch.size && streamed == batch,
      "the full battery must stay a stateless projection")
  }

  test("eventsStream on a not-yet-populated dir starts on the pinned schema") {
    // files arriving only after start is the supported streaming shape
    val dir = Files.createTempDirectory("events-empty").toString
    val s = Tables.eventsStream(spark, dir)
    assert(s.isStreaming &&
      s.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$dir/events.parquet"))
    val q = s.groupBy().count().writeStream.format("memory")
      .queryName("ev_late_start").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n = spark.table("ev_late_start").head().getLong(0)
    val want = Tables(spark, "/root/testdata/sf0.001").events.count()
    assert(n == want, s"late-arriving file must be read whole: $n vs $want")
  }

  test("heavyHitters merges sketch state across micro-batches: stream(complete) ≡ batch") {
    import spark.implicits._
    import graft.operators.ApproxOps
    val dir = Files.createTempDirectory("docs-hh")
    // two files -> maxFilesPerTrigger=1 forces TWO micro-batches, so the
    // final answer exists only if the MG partial states merge correctly
    // across batches (the mergeable-summaries property, streamed)
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    def toks(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val stream = ApproxOps.heavyHitters(
      toks(spark.readStream.schema(Tables.schemas("documents"))
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)),
      col("w"), cap = 256)
    val q = stream.writeStream.format("memory").queryName("hh_s")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("hh_s").as[(String, Long)].collect().toMap
    val batch = ApproxOps.heavyHitters(
      toks(sf0001.documents.unionAll(sf0001.documents)), col("w"), cap = 256)
      .as[(String, Long)].collect().toMap
    assert(streamed == batch && streamed.nonEmpty,
      "cap-above-vocab sketch over two micro-batches must equal the doubled-corpus batch run")
  }

  test("countMinSketch merges across micro-batches: stream(complete) ≡ batch matrix") {
    import spark.implicits._
    import graft.operators.ApproxOps
    val dir = Files.createTempDirectory("docs-cms")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    def toks(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val q = ApproxOps.countMinSketch(
        toks(spark.readStream.schema(Tables.schemas("documents"))
          .option("maxFilesPerTrigger", "1").parquet(dir.toString)),
        col("w"), depth = 3, width = 64)
      .writeStream.format("memory").queryName("cms_s")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("cms_s").select("sketch").as[Array[Long]].head()
    val batch = ApproxOps.countMinSketch(
      toks(sf0001.documents.unionAll(sf0001.documents)),
      col("w"), depth = 3, width = 64)
      .select("sketch").as[Array[Long]].head()
    // bit-identical counter matrix — CMS state is deterministic, so the
    // streamed merge must reproduce the batch matrix EXACTLY, not just
    // agree on estimates
    assert(streamed.toSeq == batch.toSeq && streamed.sum > 0)
  }

  test("piiScrub and unicode_normalize are stateless: stream/batch parity") {
    import graft.operators.Cleaning
    import graft.functions.TextOps
    val dir = Files.createTempDirectory("docs-pii")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // inject PII + decomposed unicode the same way on both sides, then
    // run scrub-after-normalize — the composed redact-on-ingest stage
    def stage(df: org.apache.spark.sql.DataFrame) = {
      val seeded = df.select(col("doc_id"), concat(
        TextOps.unicodeNormalize(
          regexp_replace(col("text"), "a", "á"), "NFC"),
        lit(" u"), col("doc_id").cast("string"), lit("@ex.org")).as("text"))
      Cleaning.piiScrub(seeded, col("doc_id"), col("text"))
    }
    val q = stage(spark.readStream.schema(Tables.schemas("documents"))
        .parquet(dir.toString))
      .writeStream.format("memory").queryName("pii_s").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("id") -> (r.getAs[Long]("n_emails"),
        r.getAs[String]("text_redacted"))
    val streamed = spark.table("pii_s").collect().map(key).toMap
    val batch = stage(sf0001.documents).collect().map(key).toMap
    assert(streamed.size == batch.size && streamed == batch,
      "redact-on-ingest must be a stateless projection, stream ≡ batch")
    assert(batch.valuesIterator.forall(_._1 >= 1L), "every doc got an email injected")
  }

  test("quarantine decode is stateless: corrupt media on a STREAM becomes error rows, parity with batch") {
    import graft.operators.Multimodal
    // media arrives as a stream in production; a malformed payload must
    // become a typed error row there too, never a failed micro-batch.
    // Write a corrupted media-lake parquet, read it as a file stream,
    // decode-or-quarantine, and require row-for-row batch parity.
    val ids = sf0001.documents.select(col("doc_id"))
    val corrupted = Multimodal.corruptFixture(
      Multimodal.synthImages(ids, "doc_id"), "doc_id", "blob")
    val dir = Files.createTempDirectory("media-quarantine")
    corrupted.write.mode("overwrite").parquet(dir.resolve("blobs").toString)
    val blobStream = spark.readStream
      .schema(corrupted.schema)
      .parquet(dir.resolve("blobs").toString)
    val q = Multimodal.decodeImagesOrQuarantine(blobStream, "doc_id", "blob")
      .writeStream.format("memory").queryName("quarantine_s")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("status"), r.getAs[String]("reason"),
        Option(r.getAs[java.lang.Long]("sum_r")).map(Long.unbox)))
    val streamed = spark.table("quarantine_s").collect().map(key).toMap
    val batch = Multimodal.decodeImagesOrQuarantine(
      spark.read.parquet(dir.resolve("blobs").toString), "doc_id", "blob")
      .toDF().collect().map(key).toMap
    assert(streamed.size == batch.size && streamed == batch,
      "streamed quarantine decode must equal batch row for row")
    assert(streamed.valuesIterator.exists(_._1 == "quarantined") &&
      streamed.valuesIterator.exists(_._1 == "ok"),
      "fixture must exercise both outcomes on the stream")
  }

  test("boilerplateScrub applies the batch-built line table in-row: stream ≡ batch removal") {
    import graft.operators.Dedup
    // the production cycle: the boilerplate table is counted in BATCH
    // (document frequency is a corpus property), ingest scrubs against it
    // statelessly. Same 2-word line structure as q134, corpus-wide group.
    val dir = Files.createTempDirectory("docs-boiler")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    def structured(df: org.apache.spark.sql.DataFrame) = {
      val words = split(col("text"), " ")
      val lineArr = transform(
        sequence(lit(0L), greatest(ceil(size(words) / lit(2.0)) - 1, lit(0L))),
        i => array_join(slice(words, (i * 2 + 1).cast("int"), lit(2)), " "))
      // null out one id in BOTH legs: a null-id doc has no batch answer
      // (the batch reassembly joins on an id.isNotNull spine), so the
      // stream must drop it too — parity includes the null-id case
      df.select(when(col("doc_id") === 7L, lit(null).cast("long"))
          .otherwise(col("doc_id")).as("doc_id"),
        array_join(lineArr, "\n").as("text"))
    }
    val batchDocs = structured(sf0001.documents)
    val boiler = Dedup.boilerplateLines(batchDocs, col("doc_id"), col("text"),
      lit("all"), minDocs = 4L)
    val q = StreamOps.boilerplateScrub(
        structured(spark.readStream.schema(Tables.schemas("documents"))
          .parquet(dir.toString)),
        col("doc_id"), col("text"), lit("all"), boiler)
      .writeStream.format("memory").queryName("boiler_s").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("id") ->
      ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
        r.getAs[String]("text_clean")))
    val streamed = spark.table("boiler_s").collect().map(key).toMap
    val batch = Dedup.removeBoilerplateLines(batchDocs, col("doc_id"),
      col("text"), lit("all"), minDocs = 4L).collect().map(key).toMap
    assert(streamed.size == batch.size && streamed == batch,
      "ingest scrub must equal the batch removal row for row")
    // the null-id doc (injected above) is absent from BOTH legs: the
    // fixture has doc_id 7, so the corpus lost exactly that one row
    val total = sf0001.documents.count()
    assert(streamed.size.toLong == total - 1 && !streamed.contains(7L),
      s"null-id doc not dropped: ${streamed.size} of $total")
    // both outcomes live on this corpus: removed lines and survivors
    assert(batch.valuesIterator.exists(v => v._2 < v._1))
    assert(batch.valuesIterator.exists(v => v._2 > 0L))
  }

  test("silhouetteWindows: streamed window ≡ batch silhouette (weighted mean, exact min)") {
    import spark.implicits._
    import graft.operators.Similarity
    // the q165 fixture shape: two axis centroids, points in both
    // clusters plus one exactly-equidistant point (ties to cid 0 in
    // batch; value-wise s = 0 either way)
    val vecs = Seq(
      (10L, Seq(1.0, 0.0)), (11L, Seq(0.9, 0.1)), (12L, Seq(0.95, 0.05)),
      (20L, Seq(0.0, 1.0)), (21L, Seq(0.1, 0.9)),
      (30L, Seq(1.0, 1.0))).toDF("vec_id", "e")
      .withColumn("ts", expr("timestamp_seconds(1704067200 + vec_id)"))
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("vec_id", "e")
    val dir = Files.createTempDirectory("sil-windows")
    vecs.write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(vecs.schema).parquet(dir.toString)
    val q = StreamOps.silhouetteWindows(stream, col("ts"), "1 hour", cents)
      .writeStream.format("memory").queryName("so_silw").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("so_silw").select("n", "mean_s", "min_s")
      .as[(Long, Double, Double)].collect()
    assert(got.length == 1, s"one event-time window expected: ${got.toSeq}")
    val (n, meanS, minS) = got.head
    // batch reference: q165's operator, globally weighted
    val batch = Similarity.silhouetteSimplified(vecs.drop("ts"), cents)
      .agg(sum(col("n")).as("n"),
        (sum(col("mean_s") * col("n")) / sum(col("n"))).as("m"),
        min(col("min_s")).as("mn"))
      .as[(Long, Double, Double)].head()
    assert(n == batch._1)
    // per-point s is the same arithmetic in both forms (identical
    // cosine expression, identical a/b) — the mean differs only by
    // float-sum association, the min must be EXACT
    assert(math.abs(meanS - batch._2) < 1e-12, s"stream $meanS != batch ${batch._2}")
    assert(minS == batch._3, s"min_s must be exact: $minS != ${batch._3}")
    // the equidistant point pins the tie path: its s is exactly 0
    assert(minS == 0.0)
    intercept[IllegalArgumentException] {
      StreamOps.silhouetteWindows(stream, col("ts"), "1 hour",
        cents.filter(col("vec_id") === 0L))
    }
  }
}
