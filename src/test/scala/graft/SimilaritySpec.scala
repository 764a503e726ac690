package graft

import graft.operators.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The size-dispatched similarity library (VERDICT r1 item 5): the exact
  * and LSH branches must agree on thresholded pairs, and the LSH branch's
  * physical plan must contain no quadratic join.
  */
class SimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** 40 base sets plus 10 planted near-duplicates (≥ 0.8 Jaccard). */
  private def plantedSets = {
    import spark.implicits._
    val base = (0 until 40).map { i =>
      (s"doc$i", (0 until 20).map(j => s"tok_${i}_$j"))
    }
    val dups = (0 until 10).map { i =>
      // copy of doc_i with 2 of 20 tokens replaced -> jaccard 18/22 ≈ 0.82
      (s"dup$i", (0 until 18).map(j => s"tok_${i}_$j") ++ Seq(s"x$i", s"y$i"))
    }
    (base ++ dups).toDF("id", "toks")
  }

  test("exact and LSH branches agree on high-similarity pairs") {
    val exact = Similarity.jaccardPairs(plantedSets, "id", "toks", minSim = 0.6)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val lsh = Similarity.jaccardPairs(plantedSets, "id", "toks", minSim = 0.6,
      forceLsh = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(exact == (0 until 10).map(i => (s"doc$i", s"dup$i")).toSet)
    assert(lsh == exact)
  }

  test("band geometry tracks the similarity floor") {
    // the most selective (numPerms, rowsPerBand) rung with S-curve recall
    // >= 0.8 at the floor; low floors add PERMS (more 2-row bands), never
    // single-row bands — r=1 buckets on raw minhash values and
    // degenerates toward all-pairs on Zipfian corpora
    assert(Similarity.bandGeometryFor(0.9) == ((32, 8)))
    assert(Similarity.bandGeometryFor(0.7) == ((32, 4))) // cluster(cutoff 0.3): unchanged geometry
    assert(Similarity.bandGeometryFor(0.5) == ((32, 2)))
    assert(Similarity.bandGeometryFor(1.0 / 3.0) == ((32, 2))) // rehearsal's dice 0.5 floor
    assert(Similarity.bandGeometryFor(0.3) == ((64, 2)))
    assert(Similarity.bandGeometryFor(0.2) == ((128, 2)))
    assert(Similarity.bandGeometryFor(0.05) == ((128, 2))) // ladder bottom: recall degrades, never r=1
    // the entry points' geometry: the ladder at a positive floor, the
    // classic 32/4 at a zero floor (diagnostic forceLsh), not ladder bottom
    assert(Similarity.geometryFor(0.7) == Similarity.bandGeometryFor(0.7))
    assert(Similarity.geometryFor(0.0) == ((32, 4)))
  }

  test("mid-floor LSH recall: floor-tuned banding recovers j≈0.54 pairs") {
    import spark.implicits._
    // 10 planted mid-similarity pairs: 14/20 tokens shared -> j = 14/26 ≈ 0.538.
    // Fixed r=4 banding collides such a pair with p ≈ 1-(1-0.538⁴)⁸ ≈ 0.50 —
    // half the pairs would be silently dropped; floor-tuned r=2 gives ≈ 0.996.
    val base = (0 until 40).map { i => (s"m$i", (0 until 20).map(j => s"t_${i}_$j")) }
    val mids = (0 until 10).map { i =>
      (s"mid$i", (0 until 14).map(j => s"t_${i}_$j") ++ (0 until 6).map(j => s"z_${i}_$j"))
    }
    val sets = (base ++ mids).toDF("id", "toks")
    val lsh = Similarity.jaccardPairs(sets, "id", "toks", minSim = 0.5,
      forceLsh = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = (0 until 10).map(i => (s"m$i", s"mid$i")).toSet
    assert(lsh == want, s"missing: ${want -- lsh}")
  }

  test("dice floor maps through the jaccard monotone relation") {
    val exact = Similarity.dicePairs(plantedSets, "id", "toks", minDice = 0.75)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val lsh = Similarity.dicePairs(plantedSets, "id", "toks", minDice = 0.75,
      forceLsh = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(lsh == exact && exact.size == 10)
  }

  test("LSH branch plan contains no cartesian/nested-loop join") {
    val plan = Similarity.jaccardPairs(plantedSets, "id", "toks", minSim = 0.6,
      forceLsh = true).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // the exact branch IS the quadratic form (documents the contrast)
    val exactPlan = Similarity.jaccardPairs(plantedSets, "id", "toks", minSim = 0.6)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("CartesianProduct") ||
      exactPlan.contains("BroadcastNestedLoopJoin"))
  }

  test("LSH band self-join ships ids only — no token arrays on the band shuffle") {
    // the d2/d8 contract, extended to the generic library (VERDICT r4 #1):
    // both sides of the ~8x-exploded band self-join must project only
    // (band, id); the token sets join back per surviving candidate
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.ArrayType
    val df = Similarity.lshCandidates(plantedSets, "id", "toks")
    val bandJoins = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name.startsWith("bi"))) => j
    }
    assert(bandJoins.nonEmpty, "band self-join not found in optimized plan")
    bandJoins.foreach { j =>
      val arrays = (j.left.output ++ j.right.output)
        .filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty, s"band join carries array columns: $arrays")
    }
  }

  test("row-count dispatcher switches branches at maxExactRows") {
    // tiny threshold forces the LSH branch; plan proves which branch ran
    val auto = Similarity.jaccardPairs(plantedSets, "id", "toks", minSim = 0.6,
      maxExactRows = 10)
    assert(!auto.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // minSim = 0 demands the full matrix -> exact branch regardless of size
    val full = Similarity.jaccardPairs(plantedSets, "id", "toks", minSim = 0.0,
      maxExactRows = 10)
    val n = plantedSets.count()
    assert(full.count() == n * (n - 1) / 2)
  }

  test("cluster: driver and distributed branches agree on planted structure") {
    // with cutoff 0.3 each (doc_i, dup_i) pair merges; everything else stays
    // a singleton -> 40 clusters, 10 of size 2
    def sizes(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("label").count().groupBy("count").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = Similarity.cluster(plantedSets, "id", "toks", cutoff = 0.3)
    val dist = Similarity.cluster(plantedSets, "id", "toks", cutoff = 0.3,
      maxDriverN = 10)
    assert(sizes(driver) == Map(1L -> 30L, 2L -> 10L))
    assert(sizes(dist) == Map(1L -> 30L, 2L -> 10L))
    // same membership, not just same histogram: partner of doc3 is dup3
    def partner(df: org.apache.spark.sql.DataFrame, of: String) = {
      val l = df.filter(col("id") === of).head().getLong(1)
      df.filter(col("label") === l && col("id") =!= of)
        .collect().map(_.getString(0)).toSeq
    }
    assert(partner(driver, "doc3") == Seq("dup3"))
    assert(partner(dist, "doc3") == Seq("dup3"))
  }

  test("cluster big-N branch: releases every cache it creates") {
    // the component rounds cache their gathered roots; the branch must
    // materialize membership to scratch and release them (d8's contract),
    // or repeated cluster() calls accumulate executor memory for the app's
    // lifetime. Registered caches, cache-manager entries and the block
    // managers' RDD blocks all return to their values from before the call.
    import org.apache.spark.sql.CacheEntries
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (entries, blocks) = (CacheEntries.count(spark), CacheEntries.rddBlocks(spark))
    val dist = Similarity.cluster(plantedSets, "id", "toks", cutoff = 0.3,
      maxDriverN = 10)
    dist.count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
    assert(CacheEntries.count(spark) == entries, "cache-manager entries leaked")
    assert(CacheEntries.rddBlocks(spark) == blocks, "RDD blocks leaked")
  }

  test("cluster big-N branch: the LSH pipeline runs in one query execution") {
    // the verified edge set is derived once and handed to Components; a
    // second executed plan carrying minhash_bands re-runs the whole
    // banding, candidate join and verification. The repartition keeps the
    // optimizer from folding the band keys into the local fixture.
    val sets = plantedSets.repartition(4)
    val plans = org.apache.spark.sql.QueryExecutions.plans(spark) {
      Similarity.cluster(sets, "id", "toks", cutoff = 0.3, maxDriverN = 10).count(): Unit
    }
    val lsh = plans.count(_.contains("minhash_bands"))
    assert(lsh == 1, s"$lsh executed plans run the LSH pipeline")
  }

  test("cluster big-N branch: no single-partition exchange in the label plan") {
    // the >maxDriverN branch exists FOR scale: dense-label assignment must
    // stay parallel (range-partitioned sort + zipWithIndex), never a global
    // un-partitioned window funneling every component through one task
    val dist = Similarity.cluster(plantedSets, "id", "toks", cutoff = 0.3,
      maxDriverN = 10)
    val plan = dist.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      plan.linesIterator.filter(_.contains("SinglePartition")).mkString("\n"))
    // labels themselves are pinned by the branch-agreement test above
  }

  test("insertionDice equivalence: exact vs forced-LSH on the fixture shape") {
    import spark.implicits._
    val insertions = Seq(
      ("S1", 2, 6, Seq("g5", "g6", "g7", "g8", "g9", "g10")),
      ("S2", 2, 5, Seq("g5", "g6", "g7", "g8", "g9", "gX")),
      ("S3", 1, 6, Seq("g2", "g3", "g4"))
    ).toDF("Strain", "pos1", "pos2", "InsertionListClusterID")
    val exact = graft.pangenome.Pangenome.insertionDice(insertions, minDice = 0.7)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val lsh = graft.pangenome.Pangenome.insertionDice(insertions, minDice = 0.7,
      maxExactRows = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(exact == Set(("S1|2|6", "S2|2|5", 10.0 / 12.0)))
    assert(lsh == exact)
  }
}
