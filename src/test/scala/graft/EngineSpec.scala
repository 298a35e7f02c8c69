package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's conf maps, pinned as data (no session needed):
  * the Default profile is what the CLI and the benchmark run under, so
  * any change to it must show up here. */
class EngineSpec extends AnyFunSuite {

  test("Default profile: exactly the engine's common confs") {
    assert(Engine.confs(32, Engine.Profile.Default) == Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.warehouse.dir" ->
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse",
      "spark.ui.enabled" -> "false"))
  }

  test("Bench and Test profiles only add confs on top of the common ones") {
    val common = Engine.confs(8, Engine.Profile.Default)
    for (p <- Seq(Engine.Profile.Bench, Engine.Profile.Test)) {
      val all = Engine.confs(8, p)
      assert(common.forall { case (k, v) => all.get(k).contains(v) }, s"$p overrides a common conf")
      assert(all.size == common.size + p.confs.size)
    }
    assert(Engine.Profile.Bench.confs("spark.sql.adaptive.enabled") == "false")
    assert(Engine.Profile.Test.confs("spark.buffer.pageSize") == "1m")
  }
}
