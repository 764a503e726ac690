package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `graft.cache.mode=scratch` swaps the session lazy-persists
  * (positional, anchor spans, c1/c2 bitsets, d2 signatures, d7 quantized
  * base, m-family PNG payloads) for write-once Scratch parquet — the
  * one-shot-ETL form for a cluster run. Both modes must produce identical
  * rows for every consumer, and scratch mode must actually materialize
  * under the session scratch dir.
  */
class SharedFrameSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq

  test("scratch mode reproduces persist-mode results for every shared-frame consumer") {
    val names = Seq("c1_dice_similarity", "c2_jaccard_distance", "d2_minhash_lsh",
      "d7_ann_ivf", "x2_rgp_mine", "x3_anchor_phylo",
      "m3_decode_features", "m4_resize_thumbnail")
    val persistMode = names.map(n => n -> rows(n)).toMap
    spark.conf.set("graft.cache.mode", "scratch")
    try {
      val scratchMode = names.map(n => n -> rows(n)).toMap
      names.foreach(n =>
        assert(persistMode(n) == scratchMode(n), s"$n differs between cache modes"))
      val shared = new java.io.File(
        s"${graft.operators.Scratch.dir(spark)}/shared")
      assert(shared.isDirectory && shared.listFiles().nonEmpty,
        "scratch mode produced no materialized shared frames")
    } finally spark.conf.unset("graft.cache.mode")
  }

  test("uniqueDir reaps superseded dirs per prefix, keeping a retain window") {
    import graft.operators.Scratch
    def mk(prefix: String): java.io.File = {
      val d = new java.io.File(Scratch.uniqueDir(spark, prefix))
      d.mkdirs()
      java.nio.file.Files.write(d.toPath.resolve("part-0"), Array[Byte](1, 2, 3))
      d
    }
    // default retain = 2: current + one predecessor stay readable, older
    // invocations of the SAME prefix are reaped (the interactive-session
    // leak ADVICE r5 flagged); a different prefix is untouched
    val other = mk("spec_other")
    val d1 = mk("spec_reap"); val d2 = mk("spec_reap"); val d3 = mk("spec_reap")
    assert(!d1.exists, "oldest dir beyond the retain window must be reaped")
    assert(d2.exists && d3.exists, "the retain window (current + previous) must survive")
    assert(other.exists, "reaping is per-prefix")
  }
}
