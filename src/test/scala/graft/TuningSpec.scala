package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** operators.Tuning.computeDense: the scoped-clone contract (TopK's
  * pattern) for the released AQE coalescing byte-floor.
  */
class TuningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val Key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("clone carries the released floor; parent session is untouched") {
    val parentBefore = spark.conf.getOption(Key)
    val scoped = operators.Tuning.computeDense(spark)
    assert(scoped ne spark)
    assert(scoped.conf.get(Key) == "1b")
    assert(spark.conf.getOption(Key) == parentBefore)
  }

  test("clone is cached per parent and re-syncs parent conf diffs") {
    val c1 = operators.Tuning.computeDense(spark)
    val c2 = operators.Tuning.computeDense(spark)
    assert(c1 eq c2)
    spark.conf.set("graft.test.tuning.marker", "42")
    try {
      val c3 = operators.Tuning.computeDense(spark)
      assert(c3.conf.get("graft.test.tuning.marker") == "42")
    } finally spark.conf.unset("graft.test.tuning.marker")
  }

  test("computeDense plans execute with the same rows (d4 fixture)") {
    import org.apache.spark.sql.functions._
    // tiny self-join through the scoped session vs the parent session —
    // identical rows (the posture changes partitioning only)
    import spark.implicits._
    val df = (1 to 40).map(i => (i.toLong, i % 3)).toDF("id", "k")
    def pairs(s: SparkSession) = {
      val d = df.select(col("id"), col("k"))
      val a = d.select(col("k"), col("id").as("id1"))
      val b = d.select(col("k").as("k2"), col("id").as("id2"))
      a.join(b, col("k") === col("k2") && col("id1") < col("id2"))
        .select("id1", "id2").orderBy("id1", "id2").collect().toSeq
    }
    val scoped = operators.Tuning.computeDense(spark)
    assert(pairs(spark) == pairs(scoped))
  }
}
