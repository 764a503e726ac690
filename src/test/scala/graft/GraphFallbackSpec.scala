package graft

import graft.pangenome.GraphFallback
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GraphFallbackSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("connected components group similarity pairs") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val comps = GraphFallback.similarityComponents(spark, pairs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(comps("1") == comps("2") && comps("2") == comps("3"))
    assert(comps("10") == comps("11"))
    assert(comps("1") != comps("10"))
  }
}
