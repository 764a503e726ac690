package graft

import graft.pangenome.{Pangenome, Schemas}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{CacheEntries, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class SchemasSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixture = getClass.getResource("/minipan").getPath

  override def afterAll(): Unit = spark.stop()

  test("typed views + range-clustered zstd round-trip") {
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

    // the on-disk layout: one directory of plain parquet files per table,
    // so no Strain=/strain= directory and no stored feature_in_strain
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    val dirs = walk(root).filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet == Set(root.getName, "features", "feature_neighbours", "clusters",
      "strains", "ortholog", "cluster_neighbours", "cluster_in_strain"), s"directories: $dirs")
    // every stored file is zstd, per its own footer
    val files = walk(root).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val conf = spark.sparkContext.hadoopConfiguration
    files.foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf))
      val codecs = try reader.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
      finally reader.close()
      assert(codecs == Set(CompressionCodecName.ZSTD), s"$f: $codecs")
    }
    // FEATURE_IN_STRAIN is derived from the stored features on read
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    assert(back.featureInStrain.columns.toSeq == g.featureInStrain.columns.toSeq)
    assert(bag(back.featureInStrain) == bag(g.featureInStrain))
    assert(back.features.filter(col("Strain") === "S1").count() == 8)
  }

  test("a strain predicate prunes row groups of the range-clustered features") {
    val t = Rehearsal.synthesize(spark, nStrains = 3)
    val g = Pangenome.buildGraph(spark, t)
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    // small row groups, so each strain spans several and pruning can show
    spark.conf.set("parquet.block.size", (64 * 1024).toString)
    try Schemas.writeGraph(g, dir) finally spark.conf.unset("parquet.block.size")
    val back = Schemas.readGraph(spark, dir)
    val total = back.features.count()
    val s001 = t.features.filter(col("Strain") === "S001").count()
    val q = back.features.filter(col("Strain") === "S001")
    assert(s001 > 0 && q.collect().length == s001)
    val scans = collect(q.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    val scanned = scans.head.metrics("numOutputRows").value
    assert(scanned < total, s"the scan read $scanned of $total rows: no row group was pruned")
    assert(scanned >= s001)
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
    // the release has finished, not only been requested, once it returns
    assert(spark.sparkContext.getRDDStorageInfo.forall(_.numCachedPartitions == 0),
      "an RDD still holds cached partitions after writeGraph")
    assert(CacheEntries.rddBlocks(spark) == 0, "cached RDD blocks remain after writeGraph")
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
