package graft

import graft.operators.Ivf
import org.apache.spark.sql.{CacheEntries, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The IVF building blocks against a driver brute force: `Ivf.assign`
  * picks each point's nearest centroid and `Ivf.probe` each query's `n`
  * nearest, both under the same double cosine and the (sim desc,
  * centroid key asc) tie-break, for a single and a compound key. The
  * vectors are small seeded integers, so exact similarity ties occur, and
  * duplicated centroid vectors plant more of them. The last test checks
  * that d7, x14 and x15 share one quantized base and one set of lists.
  */
class IvfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = Harness.session(2)
    graft.functions.GraftExtensions.registerInto(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def dot(a: Seq[Long], b: Seq[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum

  private def cosine(a: Seq[Long], b: Seq[Long]): Double =
    dot(a, b).toDouble / math.sqrt(dot(a, a).toDouble * dot(b, b).toDouble)

  /** `n` seeded non-zero integer vectors of 4 coordinates in [-2, 2]. */
  private def vectors(seed: Int, n: Int): Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually(Seq.fill(4)(rnd.nextInt(5) - 2L))
      .filter(_.exists(_ != 0)).take(n).toSeq
  }

  /** Centroid keys paired with vectors, half of the vectors used by two
    * keys (exact ties), keys shuffled so that the smaller key is not
    * always listed first. */
  private def plantedCentroids[K](seed: Int, keys: Seq[K]): Seq[(K, Seq[Long])] = {
    val vs = vectors(seed, keys.size * 2 / 3)
    new scala.util.Random(seed).shuffle(keys).zipWithIndex
      .map { case (k, i) => k -> vs(i % vs.size) }
  }

  /** Centroid keys of each point's `n` best centroids, driver-side. */
  private def bruteForce[K](points: Seq[Seq[Long]], cents: Seq[(K, Seq[Long])], n: Int)(
      implicit ord: Ordering[K]): Seq[Seq[(K, Double)]] =
    points.map { p =>
      cents.map { case (k, c) => k -> cosine(p, c) }
        .sortWith { case ((k1, s1), (k2, s2)) =>
          s1 > s2 || (s1 == s2 && ord.lt(k1, k2)) }
        .take(n)
    }

  private def pointFrame(ps: Seq[Seq[Long]]): DataFrame = {
    import spark.implicits._
    ps.zipWithIndex.map { case (v, i) => (i.toLong, v, dot(v, v)) }.toDF("pid", "q", "nn")
  }

  test("assign and probe equal the brute force under a single centroid key") {
    import spark.implicits._
    (1 to 4).foreach { seed =>
      val points = vectors(100 + seed, 300)
      val cents = plantedCentroids(seed, (0L until 24L).map(_ * 7 % 24))
      val centDf = cents.map { case (k, v) => (k, v, dot(v, v)) }.toDF("cid", "cq", "cn")
      val expected = bruteForce(points, cents, 3)
      val ties = expected.count(top => top(0)._2 == top(1)._2)
      assert(ties > 20, s"seed $seed planted only $ties top-1 ties")

      val assigned = Ivf.assign(pointFrame(points), Seq("pid"), centDf, Seq("cid"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(assigned.size == points.size)
      expected.zipWithIndex.foreach { case (top, i) =>
        assert(assigned(i.toLong) == top.head, s"seed $seed point $i")
      }

      val probed = Ivf.probe(pointFrame(points), Seq("pid"), centDf, Seq("cid"), 3)
        .select(col("pid"), col("cid")).collect()
        .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
      expected.zipWithIndex.foreach { case (top, i) =>
        assert(probed(i.toLong) == top.map(_._1).toSet, s"seed $seed query $i")
      }
    }
  }

  test("assign and probe equal the brute force under x11's compound (doc, chunk) key") {
    import spark.implicits._
    val keys = for (doc <- 0L until 6L; chunk <- Seq(4L, 0L, 2L, 1L)) yield (doc, chunk)
    (1 to 3).foreach { seed =>
      val points = vectors(200 + seed, 250)
      val cents = plantedCentroids(seed, keys)
      val centDf = cents.map { case ((doc, chunk), v) => (doc, chunk, v, dot(v, v)) }
        .toDF("c_doc", "c_chunk", "cq", "cn")
      val expected = bruteForce(points, cents, 2)
      assert(expected.count(top => top(0)._2 == top(1)._2) > 20)
      val points3 = pointFrame(points).select(
        (col("pid") / 10).cast("long").as("doc"), (col("pid") % 10).as("chunk"),
        col("q"), col("nn"))
      def id(r: Row) = r.getLong(0) * 10 + r.getLong(1)

      val assigned = Ivf.assign(points3, Seq("doc", "chunk"), centDf, Seq("c_doc", "c_chunk"))
        .collect().map(r => id(r) -> ((r.getLong(2), r.getLong(3)), r.getDouble(4))).toMap
      assert(assigned.size == points.size)
      expected.zipWithIndex.foreach { case (top, i) =>
        assert(assigned(i.toLong) == top.head, s"seed $seed point $i")
      }

      val probed = Ivf.probe(points3, Seq("doc", "chunk"), centDf, Seq("c_doc", "c_chunk"), 1)
        .collect().map(r => id(r) -> (r.getLong(4), r.getLong(5)))
      assert(probed.map(_._1).toSet.size == points.size, "one probe row per query")
      probed.foreach { case (i, k) => assert(k == expected(i.toInt).head._1, s"query $i") }
    }
  }

  test("an empty centroid set gives no rows") {
    import spark.implicits._
    val none = Seq.empty[(Long, Seq[Long], Long)].toDF("cid", "cq", "cn")
    val points = pointFrame(vectors(7, 20))
    assert(Ivf.assign(points, Seq("pid"), none, Seq("cid")).count() == 0)
    assert(Ivf.probe(points, Seq("pid"), none, Seq("cid"), 2).count() == 0)
  }

  test("d7, x14 and x15 share one d7_base entry and one d7_lists entry") {
    val sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    def run(q: String): Int = {
      SparkEntry.queries(q)(spark, sf).collect()
      CacheEntries.count(spark)
    }
    // d7 caches its base and lists; x14 adds only its ground truth
    // (ann_gt_top5) and x15 only its codes (x15_codes)
    assert(run("d7_ann_ivf") == 2)
    assert(run("x14_ann_recall") == 3)
    assert(run("x15_ivf_pq") == 4)
    // asking for the base again finds the cached entry instead of adding one
    assert(Ivf.base(spark, sf).storageLevel.useMemory)
    assert(CacheEntries.count(spark) == 4)
    spark.catalog.clearCache()
  }
}
