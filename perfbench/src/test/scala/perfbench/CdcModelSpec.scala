package perfbench

import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** The `lake_cdc` model agrees with LakeTable on a short seeded run at
  * sf0.001: every read, every refresh and the final table state.
  */
class CdcModelSpec extends AnyFunSuite {
  test("lake_cdc model agrees with the engine on a seeded run at sf0.001") {
    // sbt forks the tests in perfbench/, next to gen_data.py
    val work = new java.io.File("target/cdc-model-spec").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    val data = s"$work/data"
    assert(Seq("python3", "gen_data.py", "--seed", "5", "--sf", "0.001", "--out", data).! == 0)
    val spark = graft.GraftSession.builder("local[2]", 2)
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse").getOrCreate()
    try {
      val ctx = new Ctx(spark, new Tracer(false), work, data, 5L)
      val w = new LakeCdc
      w.setup(ctx, 0)
      ctx.timing = true
      (0 until 4).foreach(r => w.round(ctx, r))
      ctx.timing = false
      w.verify(ctx)
      assert(ctx.errors.isEmpty, ctx.errors.mkString("\n"))
      assert(ctx.samples.size == 4 * w.OpsPerRound)
      assert(ctx.samples.map(_.cls).toSet.contains("write"))
      assert(ctx.samples.map(_.cls).toSet.contains("read"))
    } finally spark.stop()
  }
}
