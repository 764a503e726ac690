package graft

import graft.operators.Components
import org.apache.spark.sql.{CacheEntries, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Components` against a driver union-find: same partition of the
  * vertices, and every component named by its smallest member under the
  * id column's own ordering.
  */
class ComponentsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Vertex -> smallest member of its component, by a driver union-find. */
  private def reference[K](edges: Seq[(K, K)])(implicit ord: Ordering[K]): Map[K, K] = {
    val parent = scala.collection.mutable.Map.empty[K, K]
    def find(k: K): K = {
      val p = parent.getOrElseUpdate(k, k)
      if (p == k) k else { val r = find(p); parent(k) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def labels[K](df: DataFrame): Map[K, K] =
    df.collect().map(r => r.getAs[K](0) -> r.getAs[K](1)).toMap

  private def longEdges(edges: Seq[(Long, Long)], parts: Int): DataFrame = {
    import spark.implicits._
    edges.toDF("a", "b").repartition(parts)
  }

  test("connected components group similarity pairs") {
    val comps = labels[Long](Components(longEdges(Seq((1L, 2L), (2L, 3L), (10L, 11L)), 2),
      "a", "b"))
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("equals a driver union-find on seeded random graphs") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(300)
      val m = rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val parts = 1 + rnd.nextInt(8)
      val got = Components(longEdges(edges, parts), "a", "b")
      assert(labels[Long](got) == reference(edges), s"seed $seed, $parts partitions")
      // each component is its own smallest member
      got.groupBy(col("component")).agg(min(col("member")).as("least"))
        .collect().foreach(r => assert(r.getLong(0) == r.getLong(1), s"seed $seed: $r"))
    }
  }

  test("a 2,000-vertex path shuffled over 16 partitions takes several rounds") {
    val path = new scala.util.Random(7).shuffle((0L until 1999L).map(i => (i + 1, i)))
    var got = Map.empty[Long, Long]
    val rounds = Components.run(spark.sparkContext.parallelize(path, 16), Ordering.Long) {
      labels => got = labels.collect().toMap
    }
    assert(rounds > 1, s"rounds: $rounds")
    assert(got == (0L until 2000L).map(_ -> 0L).toMap)
    assert(labels[Long](Components(longEdges(path, 16), "a", "b")) == got)
  }

  test("stars, self-loops, duplicate and reversed edges, and an empty edge set") {
    val star = (1L to 50L).map(i => (100L, i)) ++ (1L to 50L).map(i => (i + 200L, 100L))
    val loops = Seq((7000L, 7000L), (7001L, 7001L), (7001L, 7002L))
    val dups = Seq((500L, 501L), (500L, 501L), (501L, 500L), (502L, 501L), (501L, 502L))
    val edges = star ++ loops ++ dups
    val got = labels[Long](Components(longEdges(edges, 5), "a", "b"))
    assert(got == reference(edges))
    assert(got(250L) == 1L && got(7000L) == 7000L && got(7002L) == 7001L && got(502L) == 500L)
    val empty = Components(longEdges(Nil, 3), "a", "b")
    assert(empty.count() == 0L)
    assert(empty.columns.toSeq == Seq("member", "component"))
  }

  test("string ids take Spark's string order; long ids their numeric order") {
    import spark.implicits._
    // U+FFFD sorts below U+1F600 in UTF-8 (and in Spark), above it in UTF-16
    val (fffd, smile) = ("\uFFFD", "\uD83D\uDE00")
    assert(smile.compareTo(fffd) < 0)
    val sparkMin = Seq(fffd, smile).toDF("s").agg(min(col("s"))).head().getString(0)
    assert(sparkMin == fffd)
    val strEdges = Seq(("b", "a"), ("c", "b"), (smile, fffd), ("10", "9"))
    val strs = labels[String](Components(strEdges.toDF("a", "b").repartition(3), "a", "b"))
    assert(strs == Map("a" -> "a", "b" -> "a", "c" -> "a", fffd -> fffd,
      smile -> fffd, "10" -> "10", "9" -> "10"))
    // as strings "10" < "9"; as longs 9 is the smallest member
    val longs = labels[Long](Components(longEdges(Seq((10L, 9L), (100L, 10L)), 2), "a", "b"))
    assert(longs == Map(9L -> 9L, 10L -> 9L, 100L -> 9L))
  }

  test("releases every cache it creates") {
    val path = (0L until 300L).map(i => (i, i + 1))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (entries, blocks) = (CacheEntries.count(spark), CacheEntries.rddBlocks(spark))
    val got = Components(longEdges(path, 8), "a", "b")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    assert(CacheEntries.count(spark) == entries)
    assert(CacheEntries.rddBlocks(spark) == blocks)
    assert(got.count() == 301L)
  }

  test("refuses ids of mixed or unsupported types") {
    import spark.implicits._
    intercept[IllegalArgumentException](
      Components(Seq((1L, "a")).toDF("a", "b"), "a", "b"))
    intercept[IllegalArgumentException](
      Components(Seq((1, 2)).toDF("a", "b"), "a", "b"))
  }
}
