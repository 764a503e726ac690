package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** ANN family: IVF probing must return a subset of the brute-force ranking
  * with reasonable recall, and identical results on re-run (determinism).
  */
class AnnSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.01"

  override def afterAll(): Unit = spark.stop()

  private def pairsOf(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("eid"))).toSet

  test("d5b aggregator top-k equals d5 window top-k exactly") {
    assert(pairsOf("d5b_cosine_topk_agg") == pairsOf("d5_cosine_topk"))
  }

  test("IVF results are deterministic and recall brute-force neighbours") {
    val exact = pairsOf("d5_cosine_topk")
    val ivf1 = pairsOf("d7_ann_ivf")
    val ivf2 = pairsOf("d7_ann_ivf")
    assert(ivf1 == ivf2, "IVF must be deterministic")
    assert(ivf1.nonEmpty)
    val recall = (exact & ivf1).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall@5 too low: $recall")
    // every IVF hit must carry the exact cosine (verified path): spot check
    // by asserting IVF top-1 per query exists in the exact table or has
    // lower similarity (never higher) — IVF cannot invent better neighbours
    val exactRows = SparkEntry.queries("d5_cosine_topk")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rk")) -> r.getAs[Double]("cos")).toMap
    val ivfTop = SparkEntry.queries("d7_ann_ivf")(spark, sf).collect()
      .filter(_.getAs[Int]("rk") == 1)
      .map(r => r.getAs[Long]("qid") -> r.getAs[Double]("cos"))
    ivfTop.foreach { case (qid, cos) =>
      assert(cos <= exactRows((qid, 1)) + 1e-12, s"query $qid: IVF cos above exact best")
    }
  }

  test("d8 embedding near-dup: planted duplicate groups get one canonical id") {
    import spark.implicits._
    // 30 seeded base vectors; vectors 100+i are near-copies of base i
    // (tiny perturbation, cos > 0.999); everything else is far apart
    val rnd = new scala.util.Random(5)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 30).map(i => i.toLong -> vec())
    val dups = (0 until 10).map { i =>
      val b = bases(i)._2
      (100L + i) -> b.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_d8").toString
    (bases ++ dups).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // cache lifetime is bounded to the query: every cache of the component
    // rounds must be released once the mapping is materialized to scratch
    // — d8 may not ADD a single live cache (other queries' documented
    // session caches, e.g. d7's base frame, may exist): registered caches,
    // cache-manager entries and RDD blocks all return to their values
    import org.apache.spark.sql.CacheEntries
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (entries, blocks) = (CacheEntries.count(spark), CacheEntries.rddBlocks(spark))
    val out = SparkEntry.queries("d8_embedding_neardup")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val leaked = spark.sparkContext.getPersistentRDDs.filterNot {
      case (id, _) => cachedBefore.contains(id)
    }
    assert(leaked.isEmpty, s"d8 leaked caches: ${leaked.values.map(_.name)}")
    assert(CacheEntries.count(spark) == entries, "d8 left a cache-manager entry")
    assert(CacheEntries.rddBlocks(spark) == blocks, "d8 left RDD blocks")
    assert(out.size == 40)
    (0 until 10).foreach { i =>
      assert(out(100L + i) == (i.toLong, 1), s"dup of base $i not canonicalized")
      assert(out(i.toLong) == (i.toLong, 0), s"base $i must be its own canonical")
    }
    (10 until 30).foreach { i =>
      assert(out(i.toLong) == (i.toLong, 0), s"singleton $i must map to itself")
    }
  }

  test("d16: PQ codes and ADC distances equal the independent re-derivation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d16").toString
    // Quarter-integer coordinates: v * 1000 is exact in float AND double
    // arithmetic, so the Scala re-derivation can't drift from either
    // engine's quantization path. id 0 = the query; ids 50/100 = the
    // stride-sampled codebook entries; id 60 copies id 50's vector
    // (must encode identically and tie on ADC, broken by vec_id);
    // id 11 copies the QUERY (its ADC = the quantization floor);
    // id 12 is far away.
    def vec(seed: Int): Array[Float] =
      Array.tabulate(32)(i => (((seed * 31 + i * 7) % 8) - 4) * 0.25f)
    val a = vec(1); val b = vec(2); val c = vec(5); val far = vec(3)
    val rows = Seq(
      (0L, a, 0), (50L, b, 0), (100L, c, 0),
      (11L, a.clone(), 1), (60L, b.clone(), 1), (12L, far, 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")

    // independent PQ: quantize, split 4x8, encode vs the stride-sampled
    // codebook {0, 50, 100} — the QUERY's own vector is id 0, so it is
    // a codebook entry too (vec_id % 50 == 0), which is what makes the
    // query-copy candidate 11's ADC exactly zero
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x * 1000.0 + 0.5).toLong)
    def sub(q: Array[Long], bi: Int): Array[Long] = q.slice(bi * 8, bi * 8 + 8)
    def d2(x: Array[Long], y: Array[Long]): Long =
      x.zip(y).map { case (p, r) => (p - r) * (p - r) }.sum
    val cents = Seq(0L -> quant(a), 50L -> quant(b), 100L -> quant(c))
    val cand = rows.filter(_._1 >= 10).map { case (id, v, _) => id -> quant(v) }
    val qv = quant(a)
    val expScored = cand.map { case (id, q) =>
      val adist = (0 until 4).map { bi =>
        val code = cents.map { case (cid, cq) => (d2(sub(q, bi), sub(cq, bi)), cid) }
          .min._2
        d2(sub(qv, bi), sub(cents.toMap.apply(code), bi))
      }.sum
      (id, adist)
    }.sortBy { case (id, ad) => (ad, id) }.take(5).zipWithIndex
      .map { case ((id, ad), i) => (0L, i + 1, id, ad) }

    val out = SparkEntry.queries("d16_pq_adc")(spark, dir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rk"),
        r.getAs[Long]("eid"), r.getAs[Long]("adist")))
    assert(out.toSeq == expScored)
    // the copy laws: the query-copy candidate 11 encodes to the query's
    // own codebook entry -> ADC exactly 0, rank 1; 50 and 60 carry
    // identical vectors -> equal ADC with the vec_id tie-break
    val byId = out.map(r => r._3 -> (r._2, r._4)).toMap
    assert(byId(11L) == ((1, 0L)), s"query copy not at zero: ${byId(11L)}")
    assert(byId(50L)._2 == byId(60L)._2)
    assert(byId(50L)._1 == byId(60L)._1 - 1)
  }

  test("x11: an exact-copy chunk retrieves at rank 1 with cosine exactly 1.0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_x11").toString
    // One centroid only (doc 50 chunk 0: 50*31 % 25 == 0; the other ids
    // miss the stride), so every corpus chunk lands in ONE list and the
    // nprobe=1 recall caveat can't hide the planted neighbours. Doc 1
    // copies the query doc 7's head token-for-token -> identical hashed
    // bag-of-words embedding -> cos == 1.0 EXACTLY (dot == nn and
    // sqrt(nn^2) is exact for integer nn). Doc 9 is the query repeated
    // 16 times plus one extra token (65 toks -> TWO chunks through the
    // slice fan-out): its head chunk is exactly 16x the query vector, so
    // its cosine is ALSO exactly 1.0 — rank 2 then proves the
    // deterministic (cos DESC, doc ASC) tie-break, not float luck.
    val repeated = Seq.fill(16)("alpha beta gamma delta").mkString(" ")
    Seq(
      (1L, "alpha beta gamma delta", "en", "src1"),
      (2L, "totally different words here now", "en", "src1"),
      (9L, s"$repeated alpha", "en", "src1"), // 65 toks, 2 chunks
      (50L, "common filler tokens appear", "en", "src2"),
      (7L, "alpha beta gamma delta", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")

    val out = SparkEntry.queries("x11_rag_retrieval")(spark, dir).collect()
      .map(r => (r.getAs[Long]("qdoc"), r.getAs[Int]("rk"),
        r.getAs[Long]("r_doc"), r.getAs[Long]("r_chunk"), r.getAs[Double]("cos")))
    assert(out.nonEmpty)
    // 5 corpus chunks total: docs 1, 2, 50 (one each) + doc 9 (two)
    assert(out.count(_._1 == 7L) == 3)
    val top = out.filter(r => r._1 == 7L && r._2 == 1).head
    assert(top._3 == 1L && top._4 == 0L, s"expected doc 1 chunk 0 first, got $top")
    assert(top._5 == 1.0, s"exact-copy cosine must be exactly 1.0, got ${top._5}")
    val second = out.filter(r => r._1 == 7L && r._2 == 2).head
    assert(second._3 == 9L && second._4 == 0L,
      s"expected the scaled-copy chunk second by doc-id tie-break, got $second")
    assert(second._5 == 1.0, s"scaled-copy cosine must be exactly 1.0, got ${second._5}")
  }

  test("x14: per-query hit counts equal the d5 ∩ d7 cross-derivation") {
    val exact = SparkEntry.queries("d5_cosine_topk")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("eid")))
    val ivf = SparkEntry.queries("d7_ann_ivf")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("eid"))).toSet
    val expected = exact.groupBy(_._1)
      .map { case (q, rows) => q -> rows.count(ivf.contains).toLong }
    val out = SparkEntry.queries("x14_ann_recall")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("n_hit"), r.getAs[Double]("recall")))
    assert(out.map(r => r._1 -> r._2).toMap == expected)
    out.foreach { case (q, nHit, recall) =>
      assert(nHit >= 0 && nHit <= 5)
      assert(recall == nHit.toDouble / 5.0, s"query $q recall mismatch")
    }
    assert(out.map(_._1).toSet == exact.map(_._1).toSet,
      "every ground-truth query must appear, even at zero hits")
  }

  test("x14: a single-centroid index is exhaustive, so recall is exactly 1") {
    import spark.implicits._
    // N = 31 < stride 50 => only vec_id 0 seeds a centroid => one
    // inverted list holding everything => the IVF leg degenerates to
    // brute force and every query's recall@5 must be exactly 1.0
    val rnd = new scala.util.Random(11)
    val dir = java.nio.file.Files.createTempDirectory("graft_x14").toString
    (0 until 31).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("x14_ann_recall")(spark, dir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("n_hit"), r.getAs[Double]("recall")))
    assert(out.length == 10)
    out.foreach { case (q, nHit, recall) =>
      assert(nHit == 5L && recall == 1.0, s"query $q: expected full recall, got $nHit")
    }
  }

  test("x15: IVF-PQ achieves full recall on a cluster-per-codebook-entry corpus") {
    import spark.implicits._
    // 520 vectors in 10 orthogonal clusters (blocks of 52 ids), query i
    // (id < 10) pointing at cluster i's direction. Block width 52 > 50
    // puts at least one stride-50 centroid in every block, so each
    // cluster owns an inverted list AND a PQ codebook entry. Members
    // carry a tiny id-monotonic perturbation on a dedicated dim, so the
    // exact ground truth is the 5 smallest member ids per cluster —
    // and because all small-perturbation members share the same PQ code,
    // ADC ties resolve by vec_id to exactly that set. Full recall is
    // then a LAW of the construction, for the composed index end to end.
    val dim = 32
    def vec(at: Int, v: Float, at2: Int = -1, v2: Float = 0f): Seq[Float] = {
      val a = Array.fill(dim)(0f)
      a(at) = v
      if (at2 >= 0) a(at2) = v2
      a.toSeq
    }
    val rows = (0 until 520).map { id =>
      if (id < 10) (id.toLong, vec(id, 1f)) // query i = cluster i's direction
      else {
        val cluster = id / 52
        val eps = (id - cluster * 52 + 1) * 0.001f
        (id.toLong, vec(cluster, 1f, 10 + cluster, eps))
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_x15").toString
    rows.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("x15_ivf_pq")(spark, dir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("n_hit"), r.getAs[Double]("recall")))
    assert(out.length == 10)
    out.foreach { case (q, nHit, recall) =>
      assert(nHit == 5L && recall == 1.0,
        s"query $q: expected full IVF-PQ recall, got $nHit")
    }
  }

  test("x15: per-query hits are bounded and consistent on the sf corpus") {
    val out = SparkEntry.queries("x15_ivf_pq")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("n_hit"), r.getAs[Double]("recall")))
    val x14 = SparkEntry.queries("x14_ann_recall")(spark, sf).collect()
      .map(r => r.getAs[Long]("qid")).toSet
    // same query set as x14 (both derive from the same ground truth)
    assert(out.map(_._1).toSet == x14)
    out.foreach { case (q, nHit, recall) =>
      assert(nHit >= 0 && nHit <= 5, s"query $q: n_hit $nHit out of range")
      assert(recall == nHit.toDouble / 5.0, s"query $q recall mismatch")
    }
  }
}
