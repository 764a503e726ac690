package graft

import graft.pangenome.{Pangenome, Schemas}
import org.apache.spark.sql.{CacheEntries, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SchemasSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixture = getClass.getResource("/minipan").getPath

  override def afterAll(): Unit = spark.stop()

  test("typed views + strain-partitioned round-trip with partition pruning") {
    val g = Pangenome.buildGraph(spark, Pangenome.etl(spark, fixture))
    val dir = java.nio.file.Files.createTempDirectory("graft_graph").toString
    Schemas.writeGraph(g, dir)
    val back = Schemas.readGraph(spark, dir)

    // typed datasets materialize with correct option semantics
    val feats = Schemas.features(back.features).collect()
    assert(feats.length == 20)
    assert(feats.find(_.Name == "S1_001").get.Variation.contains(""))
    assert(feats.find(_.Name == "S1_008").get.Variation.isEmpty)
    val cls = Schemas.clusters(back.clusters).collect()
    assert(cls.count(_.lonely_cluster) == 1)

    // feature_ids / CDS_ids round-trip (01_creatingDatabase.cypher:39,83):
    // real clusters keep the member-id array, lonely clusters the scalar
    val g2c = cls.find(_.cluster_id == "g2").get
    assert(g2c.feature_ids.contains(Seq("S1_002", "S2_002", "S3_002", "S3_006")))
    assert(g2c.CDS_ids.isEmpty)
    val lone = cls.find(_.lonely_cluster).get
    assert(lone.feature_ids.isEmpty)
    assert(lone.CDS_ids.contains(lone.cluster_id))
    // PIRATE-supplied average_length survives (not min/max aliased)
    assert(g2c.average_length == 13.7)
    assert(g2c.min_length == 12 && g2c.max_length == 12)

    // the on-disk layout is partitioned by strain and prunes
    assert(new java.io.File(s"$dir/features/Strain=S1").isDirectory)
    val plan = back.features.filter(col("Strain") === "S1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("S1"), "partition filter must reach the scan")
    assert(back.features.filter(col("Strain") === "S1").count() == 8)
  }

  test("the graph tables read one cached membership, released by writeGraph") {
    val etl = Pangenome.etl(spark, fixture)
    val cachedBefore = CacheEntries.count(spark)
    val g = Pangenome.buildGraph(spark, etl)
    // with cached data substituted, no table re-derives the member explode
    Seq("features" -> g.features, "clusters" -> g.clusters, "ortholog" -> g.ortholog,
      "clusterNeighbours" -> g.clusterNeighbours,
      "clusterInStrain" -> g.clusterInStrain).foreach { case (name, df) =>
      val generates = df.queryExecution.optimizedPlan.collect {
        case gen: org.apache.spark.sql.catalyst.plans.logical.Generate => gen
      }
      assert(generates.isEmpty, s"$name's plan explodes the member lists again")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_release").toString
    Schemas.writeGraph(g, dir)
    assert(CacheEntries.count(spark) <= cachedBefore,
      "writeGraph left the build's membership cached")
  }

  test("analyses over materialized tables equal the lineage path and stay flat") {
    val g0 = Pangenome.buildGraph(spark, Pangenome.etl(spark, fixture))
    val dir = java.nio.file.Files.createTempDirectory("graft_mat").toString
    Schemas.writeGraph(g0, dir)
    val g = Schemas.readGraph(spark, dir)
    val e = Pangenome.enrich(spark, g)
    def rgpKeys(rgps: org.apache.spark.sql.DataFrame) =
      rgps.select("Strain", "c1", "c2", "pos1", "pos2").collect()
        .map(_.toSeq).toSet
    val viaLineage = Pangenome.rgpMine(Pangenome.enrich(spark, g0), g0,
      majorityFrac = 0.3, minEdges = 2, maxEdges = 10, requireMobile = false)
    val viaStore = Pangenome.rgpMine(e, g,
      majorityFrac = 0.3, minEdges = 2, maxEdges = 10, requireMobile = false)
    assert(rgpKeys(viaStore) == rgpKeys(viaLineage))
    // the materialized plan must not re-expand the build lineage
    val nExchanges = "Exchange".r
      .findAllIn(viaStore.queryExecution.executedPlan.toString).length
    // lineage path measures ~1678 exchanges; the stored path stays ~50
    // (enrichment is still lazy here — fully materialized it is ~18)
    assert(nExchanges < 100, s"plan re-expands lineage: $nExchanges exchanges")
  }
}
