package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Miniature run of the matched-scale lifecycle rehearsal: the
  * deterministic generator must produce the planted island structure
  * (anchored insertions with mobile genes) and every stage must complete
  * against real parquet boundaries — so the 770-strain evidence run in
  * NOTES_r5 stays reproducible, not a one-off script.
  */
class RehearsalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("miniature lifecycle: all stages run, islands surface as RGPs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rehearsal_spec").toString
    try {
      val (timings, nRgps, stats) = Rehearsal.run(spark, nStrains = 12, dir)
      assert(timings.map(_._1) == Seq("etl_materialize", "build_graph",
        "enrich", "genome_track", "rgp_mine",
        "insertion_dice", "insertion_clusters", "anchor_phylo"))
      assert(timings.forall(_._2 > 0))
      // every stage records the process CPU it took beside its wall time,
      // and the CPU its Spark tasks took, which is a part of the former
      assert(timings.forall(_._3 > 0), s"stage CPU seconds: $timings")
      assert(timings.forall(t => t._4 >= 0 && t._4 <= t._3), s"executor CPU seconds: $timings")
      // deterministic generator -> deterministic miner output
      assert(nRgps == 68L, s"expected the planted-island RGP count, got $nRgps")
      // the notebook-golden stats block is complete and self-consistent
      val sm = stats.toMap
      assert(Seq("strains_with_insertion", "max_insertions_per_strain",
        "sig_both", "sig_gc_only", "sig_cai_only", "sig_nan",
        "n_dice_pairs", "n_flat_clusters", "max_cluster_size",
        "stddev_cluster_size", "n_anchor_groups").forall(sm.contains), s"stats: $stats")
      assert(sm("strains_with_insertion").toLong <= 12L)
      // every insertion gets exactly one flat-cluster label
      assert(sm("n_flat_clusters").toLong >= 1L &&
        sm("max_cluster_size").toLong <= nRgps)
      // the graph boundary actually materialized
      val g = graft.pangenome.Schemas.readGraph(spark, s"$dir/graph")
      assert(g.features.count() > 0 && g.clusterNeighbours.count() > 0)
      // enriched features carry GC/CAI for CDS rows
      val e = spark.read.parquet(s"$dir/enriched/features")
      assert(e.filter(org.apache.spark.sql.functions.col("GC").isNotNull).count() > 0)
    } finally graft.operators.Scratch.deleteRecursively(new java.io.File(dir))
  }

  test("hot-strain variant: strain 0 carries hotFactor x features, lifecycle still completes") {
    // hotFactor = 1 must be bit-identical to the uniform generator (the
    // nRgps == 68 pin above runs through the same refactored sid/pos path)
    val uniform = Rehearsal.synthesize(spark, nStrains = 6)
    val hot = Rehearsal.synthesize(spark, nStrains = 6, hotFactor = 4)
    import org.apache.spark.sql.functions.{col, countDistinct}
    val perStrain = hot.features.groupBy(col("Strain")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val uniformPer = uniform.features.groupBy(col("Strain")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // non-hot strains are unchanged rows; strain 0 is ~4x its uniform self
    assert(perStrain("S001") == uniformPer("S001"))
    assert(perStrain("S000") > 3L * uniformPer("S000"),
      s"hot strain not inflated: ${perStrain("S000")} vs uniform ${uniformPer("S000")}")
    // names stay unique (position-indexed) even across repeated slot cycles
    val n = hot.features.count()
    assert(hot.features.select(countDistinct(col("Name"))).head().getLong(0) == n)
    // the full lifecycle runs on the skewed corpus
    val dir = java.nio.file.Files.createTempDirectory("graft_rehearsal_hot").toString
    try {
      val (timings, nRgps, _) = Rehearsal.run(spark, nStrains = 6, dir, hotFactor = 4)
      assert(timings.forall(_._2 > 0))
      assert(nRgps > 0, "skewed corpus must still yield planted-island RGPs")
    } finally graft.operators.Scratch.deleteRecursively(new java.io.File(dir))
  }
}
