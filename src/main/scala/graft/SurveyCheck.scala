package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Self-check against the ORIGINAL survey oracle snapshot: computes each
  * declared query's canonical md5 (Canon, §5.3) and compares it to the
  * hash table embedded in SURVEY.md §8 — independent of the per-round
  * DuckDB replay, this proves the engine reproduces the contract the
  * survey session recorded. Usage: `runMain graft.SurveyCheck [sfDir]`.
  */
object SurveyCheck {

  val expected: Map[String, Map[String, String]] = Map(
    "sf0.01" -> Map(
      "q01_project_math" -> "57438c493c91da3a01f8aa0c2bc61050",
      "q02_filter_flagmask" -> "8feb73ea6c1a992c3b52760ca162ef6d",
      "q03_subset_in_range" -> "36360eaaaf986a42bb1bc2d646a480b0",
      "q04_dim_join_chain" -> "009d87013051724e303eb71c2ca852ec",
      "q05_group_stats" -> "15315890a9cc484efe786ee6067a84a3",
      "q06_raster2d_count" -> "1b6af798262df7385699d5b45fb9cdf6",
      "q07_raster2d_mean" -> "748e86471f03f3fdcef35f21b25499c3",
      "q08_raster2d_count_cat" -> "8ba7e2d3c668404e3cf507ecf3489d40",
      "q09_minmax_ranges" -> "6ced71798f8a301a9d3cfaf2fe3ac2c2",
      "q10_eqhist_cumedist" -> "aa51c58ed519bf8a4f316ae459bed9cf",
      "q11_ntile_discretize" -> "4bf33dcca0c88514c97e9b2793a9c170",
      "q12_conjugate_union" -> "027150bc80f343068cd7198df43fe63c",
      "q13_topk" -> "709eb31f7c8ecfc765f4f03dc347204d",
      "q14_distinct_counts" -> "edb0f09c84f9202a532f46c52261d6aa",
      "q15_semi_anti_join" -> "988e1866db76a245e3876058a754d2dc",
      "q16_rank_per_group" -> "3d13e883c0e29557e3181b307cb04f36",
      "q17_string_fns" -> "05cdf2cf4e2d3dcbedff7f2ed978afbc",
      "q18_date_trunc_day" -> "e83d82cd49e1dbe80a028779676542be",
      "q19_json_extract" -> "fe5694da2e62283e078931ddad115b58",
      "q20_array_explode_stats" -> "500005b332725875c40c7d16880997c5",
      "q21_tumbling_window" -> "6dd8907e474b33eb3d1d000828df2bfd",
      "q22_sessionize" -> "2d7718c54d3c2cc1ce4f516278c2f414",
      "q23_interval_join" -> "1e1de74fae6350ee0231b71920bc0463",
      "q24_exact_dedup" -> "d339459fc0a553462ace701b82edea73",
      "q25_cosine_topk" -> "26167cde736bb8d97d5fcb2c4de26f24",
      "q26_token_topn" -> "f31daf911770583ede336041594aedcf",
      "q27_rollup" -> "f51c2c5a657fc3246ebc3b3631b4b469",
      "q28_intersect" -> "3fcb41f7fd2d8abf90531f46a29ee34d",
      "q29_except" -> "a6568d3ed10a743a75923276741e4747",
      "q30_asof_join" -> "f80cbfb34518ac7ea3440a53ad0baf53"),
    "sf0.1" -> Map(
      "q01_project_math" -> "affd119ce6eb2747cdb3ca2f1a3cf334",
      "q02_filter_flagmask" -> "ff3643e3a994d885ee341a9f4a2caa5b",
      "q03_subset_in_range" -> "187cfbde4da88898f6fe349a0ce30852",
      "q04_dim_join_chain" -> "6e36d424578cb3b947863829511589f4",
      "q05_group_stats" -> "70e86b73177bd01d77fca16844f06e1b",
      "q06_raster2d_count" -> "2733287348028430e89eea5429805ef0",
      "q07_raster2d_mean" -> "898a247f7e0f5ced86cdcad5ab969531",
      "q08_raster2d_count_cat" -> "ada1a983efb6a742c78ade91cd70dae5",
      "q09_minmax_ranges" -> "1a4e2011a14ae9cfad56eaf34038ab92",
      "q10_eqhist_cumedist" -> "17d101f3f83ebe665f962e9251881a4a",
      "q11_ntile_discretize" -> "5a1428bfa86424f627804221acbb2d5c",
      "q12_conjugate_union" -> "d7691aa8a3ab016c8cf04a0f07fa2f02",
      "q13_topk" -> "56fa19f64af4ee1e62e82dbce1ae8ce8",
      "q14_distinct_counts" -> "8465b8e23fd8dc4a4de9b42c0a0bcafd",
      "q15_semi_anti_join" -> "7f397427a0b24a1419dc930c2c76848a",
      "q16_rank_per_group" -> "7e0e3a86d82573e75f990895d80fab0e",
      "q17_string_fns" -> "b31757bece56e6e4a95515aef12544b1",
      "q18_date_trunc_day" -> "e849724dbd9eae75d3089a4125892fde",
      "q19_json_extract" -> "c48a09261a0692849c649a4b4bbb4906",
      "q20_array_explode_stats" -> "36b1c22dc09574436294cf406c0a08de",
      "q21_tumbling_window" -> "b5ca2f08f355ffbad7a5b0c40fd34cd2",
      "q22_sessionize" -> "486f81b883b2c428d6fd32b0e11e1da7",
      "q23_interval_join" -> "ee86f75dc88def26269679be5b671f42",
      "q24_exact_dedup" -> "3874af7f2328f047a98c86d8e7369de5",
      "q25_cosine_topk" -> "2f61d8f12eb25b1e609ba8d72bc9e75b",
      "q26_token_topn" -> "17a5a2dda18fc6ae380bc0b18b4d1b5f",
      "q27_rollup" -> "bf4ce35f2ad4616a1e303a310f616a3d",
      "q28_intersect" -> "27876c95289357b62ac1bfdf57a5c1e9",
      "q29_except" -> "7b8a67c1b46ae023fc87c6a4df9dbfc3",
      "q30_asof_join" -> "61d5cb56ef315d4896f72bcc7c6613c5"))

  /** §8's q25 SQL passed raw FLOAT lists to `list_cosine_similarity`, so
    * its snapshot hash encodes float32 arithmetic (verified: the one
    * differing row is 0.371484 in f32 vs 0.371485 in f64). The engine —
    * and the per-round oracle — compute in double; this variant replicates
    * the survey's float32 folds for the snapshot comparison only. */
  private def q25Float32(t: Tables): DataFrame = {
    def dotF(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0f), (acc, v) => acc + v)
    val emb = t.embeddings.select(col("vec_id"), col("embedding").as("e"))
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("e").as("qe"))
    // the whole similarity runs in float32 (division included), widened to
    // double only at the end — verified against the divergent sf0.1 row
    val pairs = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (dotF(col("qe"), col("e")) /
          sqrt((dotF(col("qe"), col("qe")) * dotF(col("e"), col("e"))).cast("double"))
            .cast("float"))
          .cast("float").cast("double")
          .as("sim0"))
    val w = Window.partitionBy("qid").orderBy(col("sim0").desc, col("vec_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .orderBy("qid", "rn")
      .select(col("qid"), col("vec_id"), round(col("sim0"), 6).as("sim"))
  }

  /** §8-snapshot ADAPTERS — FROZEN AT FOUR (VERDICT r19 #6). Each maps a
    * timed query's CURRENT gate encoding back to the encoding the round-1
    * survey snapshot recorded, by an EXACT derivation (no re-rounding, no
    * approximation). This list is the one place gate-encoding drift could
    * hide, so it is pinned by SurveyCheckSpec: ADDING AN ADAPTER MUST BE
    * EXPLICITLY RENEGOTIATED — update the spec's pinned name set in the
    * same commit and record the exactness argument here, or the build
    * fails. The four, with their derivations:
    *  - q18: DuckDB's `date_trunc('day')` returns DATE, so §8's `d`
    *    canonicalized date-style; cast the engine's TIMESTAMP to match.
    *  - q25: §8's SQL used float32 `list_cosine_similarity`; replicate
    *    the float32 folds ([[q25Float32]]) for the comparison only.
    *  - q10 (r19): the gate emits micro-unit BIGINTs (round-rule
    *    immunity — see Raster.shadeEqHistMicro); §8 recorded the
    *    round(·,6) DOUBLE form, which is EXACTLY shade6/1e6 (the old
    *    portable round was round(u·1e6)/1e6) — derive it back.
    *  - q22 (r19): the timed query no longer presentation-sorts (the
    *    driver canon row-sorts pre-hash); Canon.md5 hashes in result
    *    order and §8 recorded the sorted body — re-sort here only. */
  val adapters: Map[String, (Tables, DataFrame) => DataFrame] = Map(
    "q18_date_trunc_day" ->
      ((_, df) => df.withColumn("d", col("d").cast("date"))),
    "q25_cosine_topk" -> ((t, _) => q25Float32(t)),
    "q10_eqhist_cumedist" ->
      ((_, df) => df.withColumn("shade", col("shade6") / lit(1e6)).drop("shade6")),
    "q22_sessionize" ->
      ((_, df) => df.orderBy(col("user_id"), col("sid"))))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val sf = sfDir.split('/').last
    val want = expected.getOrElse(sf,
      sys.error(s"no SURVEY §8 hashes recorded for '$sf'"))
    val spark = Engine.session(Engine.localMaster, shufflePartitions = 8)
    spark.sparkContext.setLogLevel("WARN")
    val t = Tables(spark, sfDir)
    var bad = 0
    Queries.all.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val df = adapters.get(name).map(_(t, q(t))).getOrElse(q(t))
      val got = Canon.md5(df)
      val ok = want(name) == got
      if (!ok) bad += 1
      println(f"${if (ok) "MATCH " else "DIFFER"} $name%-26s $got")
    }
    println(s"SurveyCheck: ${want.size - bad}/${want.size} match SURVEY §8 at $sf")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
