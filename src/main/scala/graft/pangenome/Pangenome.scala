package graft.pangenome

import graft.functions.GraftFunctions
import graft.sources.PirateSources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** The domain pipeline: PIRATE output -> node/edge tables -> enrichment ->
  * analyses, reproducing the reference end to end (SURVEY §3 lifecycle
  * 1-3) as lazy DataFrame plans over Parquet-able tables.
  *
  * Scale posture: every table is partitionable by `Strain` (features,
  * edges) or `cluster_id`; per-strain work (ordering, windows, chains)
  * shuffles once on the strain key and stays partition-local after that.
  * Genome strings (S6) are substring-extracted immediately (P6) and never
  * broadcast or shuffled with the wide tables.
  *
  * **Materialization contract**: build stages persist their outputs
  * ([[Schemas.writeGraph]] — strain-partitioned parquet) and analyses run
  * over the *stored* tables ([[Schemas.readGraph]]). Chaining the lazy
  * builders straight into the analyses re-expands the whole ETL lineage at
  * every table reference (measured: 1678 exchanges in the rgpMine plan vs
  * 18 over materialized tables — genomeTrack 605 vs 4). This mirrors the
  * reference, where the Neo4j store is the boundary between build and
  * query (SURVEY §3).
  *
  * Inside the build, [[buildGraph]] derives the feature->cluster
  * membership once — one left join of the features to the exploded
  * member lists — and caches it before it returns; all eight tables read
  * that frame instead of re-deriving the explode. [[Schemas.writeGraph]]
  * releases the cache once it has stored the last table.
  */
object Pangenome {

  // ------------------------------------------------------------------
  // ETL job  (pirateToDatabase.py __main__, SURVEY §3 entry point 1)
  // ------------------------------------------------------------------

  case class EtlTables(features: DataFrame, clusters: DataFrame, neighbourEdges: DataFrame)

  def etl(spark: SparkSession, pirateDir: String): EtlTables = {
    graft.functions.GraftExtensions.registerInto(spark)
    val coords = PirateSources.readCoords(spark, s"$pirateDir/co-ords")
    val reprSeq = PirateSources.readRepresentativeHeaders(
      spark, s"$pirateDir/representative_sequences.ffn")
    val families = PirateSources.readGeneFamilies(
      spark, s"$pirateDir/PIRATE.gene_families.tsv")
    val aligned = PirateSources.readAlignedSequences(spark, s"$pirateDir/feature_sequences")
    val genomes = PirateSources.readStrainGenomes(spark, s"$pirateDir/modified_gffs")

    // J1: clusters ⋈ representative headers (m:1). reprSeq is one small
    // row per cluster, but cluster count GROWS with pangenome size (open
    // pangenome), so no forced broadcast — AQE upgrades from observed
    // size at this scale and degrades to a keyed shuffle beyond it
    // (the d9b/j3 rule).
    val clusters0 = families.join(reprSeq,
      col("gene_family") === col("cluster_name")).drop("cluster_name")

    // J2+J3: aligned members ⋈ repr headers, then self-join to pull the
    // reference member's sequence onto every row of its cluster
    val withRef = aligned.join(reprSeq,
      col("Cluster") === col("cluster_name")).drop("cluster_name")
    val refRows = withRef.filter(col("Feature") === col("reference_locus"))
      .select(col("Cluster").as("rc"), col("Seq").as("Seq_reference"))
    val alignedRef = withRef.join(refRows, col("Cluster") === col("rc")).drop("rc")

    // A11+P7: variation once per distinct (cluster, seq), mapped back.
    // Encode is the codegen kernel ([[graft.functions.VariationEncodeExpr]],
    // scalar-fallback drop-in) — the ETL's hottest scalar, no UDF boundary.
    val distinctSeqs = alignedRef.select(col("Cluster").as("dc"),
        col("Seq").as("ds"), col("Seq_reference").as("dr")).distinct()
      .withColumn("Variation", expr("variation_encode_native(ds, dr)"))
      .drop("dr")
    val variation = alignedRef.join(distinctSeqs,
        col("Cluster") === col("dc") && col("Seq") === col("ds"))
      .select(col("Feature"), col("Variation"))

    // J4: features ⟕ variation; left-only rows (no aligned sequence) get
    // their genome substring as FullSequences (J5+P6); others keep null
    val feats = coords.join(variation, col("Name") === col("Feature"), "left")
      .drop("Feature")
    val features = feats.join(genomes, Seq("Strain"), "left")
      .withColumn("FullSequences",
        when(col("Variation").isNull,
          expr("substring(Sequence, CAST(Start AS INT), CAST(End - Start + 1 AS INT))")))
      .drop("Sequence")
      .select(col("Name"), col("Start"), col("End"), col("Length"), col("Strand"),
        col("Product"), col("Strain"), col("Contig"), col("FeatureType"),
        col("Variation"), col("FullSequences"))

    // J6: cluster reference sequence (null when the cluster has no
    // aligned-seq file -> repaired later, 01_creatingDatabase.cypher:129)
    val clusters = clusters0.join(
        alignedRef.select(col("Feature").as("rf"), col("Seq").as("Seq")).distinct(),
        col("reference_locus") === col("rf"), "left")
      .drop("rf")

    // O1+W4+G1: neighbour edges — consecutive features per CHAIN in
    // genome order, where a chain is (Strain, Contig): a multi-contig
    // strain (plasmids, draft assemblies) yields several NEIGHBOUR
    // chains, never an edge across the replicon boundary (SURVEY §4;
    // the reference's one-chain assumption is the Contig="0" special
    // case). Partitioned lag (the strain-boundary fix per SURVEY G1).
    // 100 TB posture: `graft.skew.chainChunkSpan` (a Start-coordinate
    // span) opts the derivation into Skew.chunkedLag — bit-identical
    // edges (SkewLifecycleSpec) with a pathological mega-genome spread
    // over span-sized tasks instead of serializing one per-chain window.
    val lagSource = (w: org.apache.spark.sql.expressions.WindowSpec) =>
      Seq("sourceFeature" -> lag(col("Name"), 1).over(w))
    val lagged = skewSpan(features, "graft.skew.chainChunkSpan") match {
      case Some(span) =>
        graft.operators.Skew.chunkedLag(features, Seq("Strain", "Contig"),
          col("Start"), Seq(col("Name")), maxOffset = 1, chunkSpan = span)(lagSource)
      case None =>
        val w = Window.partitionBy(col("Strain"), col("Contig"))
          .orderBy(col("Start"), col("Name"))
        lagSource(w).foldLeft(features) { case (acc, (n, c)) => acc.withColumn(n, c) }
    }
    val neighbourEdges = lagged
      .filter(col("sourceFeature").isNotNull)
      .select(col("sourceFeature"), col("Name").as("receivingFeature"),
        col("Strain").as("strain"))

    EtlTables(features, clusters, neighbourEdges)
  }

  // ------------------------------------------------------------------
  // Graph build job  (01_creatingDatabase.cypher, SURVEY §3 entry point 2)
  // ------------------------------------------------------------------

  case class GraphTables(
      features: DataFrame,        // FEATURE nodes (full_sequence nulled for lonely)
      clusters: DataFrame,        // CLUSTER nodes incl. lonely + repaired ref seqs
      strains: DataFrame,         // STRAIN nodes
      ortholog: DataFrame,        // feature_id -> cluster_id
      clusterNeighbours: DataFrame, // c1, c2, number_of_members, members
      featureNeighbours: DataFrame, // src, dst, strain
      featureInStrain: DataFrame, // feature_id -> strain
      clusterInStrain: DataFrame, // cluster_id -> strain (deduped 2-hop)
      // the build's cached feature->cluster membership, which the tables
      // above read; [[Schemas.writeGraph]] releases it after the last table
      membership: Option[DataFrame] = None)

  /** Builds the eight graph tables from ONE feature->cluster membership
    * frame. The features are left-joined to the exploded member lists:
    * matched rows are the ORTHOLOG edges, null-extended rows are exactly
    * the lonely features. The frame is persisted (`MEMORY_AND_DISK`) and
    * built here, before any table is written — a cache first built inside
    * a write under AQE races that write's own scans of it. It stays cached
    * until [[Schemas.writeGraph]] has stored the last table; a caller that
    * never writes the graph unpersists `membership` itself.
    */
  def buildGraph(spark: SparkSession, t: EtlTables): GraphTables = {
    val features0 = t.features
    // J7+J12: UNWIND member ids (P4 split+filter) and left-join them onto
    // the features (01_creatingDatabase.cypher:70-89). A feature named in
    // two member lists gets two rows; a member id with no feature drops.
    // Only the columns the tables below read are kept.
    val members = t.clusters
      .select(col("allele_name").as("member_of"),
        explode(filter(split(col("feature"), ";"), x => x =!= "0" && x =!= ""))
          .as("member"))
    val membership = features0
      .select(col("Name"), col("Strain"), col("FeatureType"), col("Product"),
        col("Length"), col("FullSequences"))
      .join(members, col("Name") === col("member"), "left")
      .select(col("Name"), col("Strain"), col("FeatureType"), col("Product"),
        col("Length"), col("FullSequences"),
        // a lonely feature is its own single-member cluster
        when(col("member").isNull, col("Name")).otherwise(col("member_of"))
          .as("cluster_id"),
        col("member").isNull.as("lonely"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    membership.count()

    // feature.full_sequence moves onto the lonely cluster's
    // reference_sequence and is nulled on the feature. Lonely clusters
    // carry the single member as scalar CDS_ids (not a feature_ids list)
    // and no reference_locus, 01_creatingDatabase.cypher:83
    val lonely = membership.filter(col("lonely"))
    val lonelyClusters = lonely.select(
      col("Name").as("cluster_id"), col("Product").as("description"),
      lit(50L).as("threshold"), lit(1L).as("number_genomes"),
      col("Length").as("min_length"), col("Length").as("max_length"),
      col("Length").cast("double").as("average_length"),
      lit(null).cast("array<string>").as("feature_ids"),
      col("Name").as("CDS_ids"),
      col("Name").as("reference_locus"), col("FullSequences").as("reference_sequence"),
      lit(true).as("lonely_cluster"))
    val ortholog = membership.select(col("Name").as("feature_id"), col("cluster_id"))

    val features = features0.join(
        lonely.select(col("Name").as("ln")), col("Name") === col("ln"), "left")
      .withColumn("FullSequences",
        when(col("ln").isNotNull, lit(null).cast("string")).otherwise(col("FullSequences")))
      .drop("ln")

    // G3: cluster feature_type — the reference's 3 sequential passes mean
    // CDS overwrites tRNA overwrites pseudogene; one pass with that priority
    val typePrio = when(col("FeatureType") === "CDS", 3)
      .when(col("FeatureType") === "tRNA", 2)
      .when(col("FeatureType") === "pseudogene", 1).otherwise(0)
    val clusterType = membership
      .groupBy(col("cluster_id")).agg(max(typePrio).as("tp"))
      .withColumn("feature_type",
        when(col("tp") === 3, "CDS").when(col("tp") === 2, "tRNA")
          .when(col("tp") === 1, "pseudogene"))
      .drop("tp")

    // assemble CLUSTER nodes: real + lonely, ref-seq repair (J10:
    // null reference_sequence <- the reference feature's full_sequence)
    val realClusters = t.clusters.select(
      col("allele_name").as("cluster_id"), col("consensus_product").as("description"),
      col("threshold"), col("number_genomes"), col("min_length"), col("max_length"),
      col("average_length"), // PIRATE-supplied, 01_creatingDatabase.cypher:38
      // member-id list property, 01_creatingDatabase.cypher:39-40
      filter(split(col("feature"), ";"), x => x =!= "0" && x =!= "").as("feature_ids"),
      lit(null).cast("string").as("CDS_ids"),
      col("reference_locus"), col("Seq").as("reference_sequence"),
      lit(false).as("lonely_cluster"))
    val allClusters = realClusters.unionByName(lonelyClusters)
    val repairSrc = features0.select(col("Name").as("rl"),
      col("FullSequences").as("repair_seq"))
    val clusters = allClusters
      .join(repairSrc, col("reference_locus") === col("rl"), "left")
      .withColumn("reference_sequence",
        coalesce(col("reference_sequence"), col("repair_seq")))
      .drop("rl", "repair_seq")
      .join(clusterType, Seq("cluster_id"), "left")

    // G2+J8: cluster-level NEIGHBOUR edges with accumulated members
    val o1 = ortholog.select(col("feature_id").as("sf"), col("cluster_id").as("c1"))
    val o2 = ortholog.select(col("feature_id").as("rf"), col("cluster_id").as("c2"))
    val clusterNeighbours = t.neighbourEdges
      .join(o1, col("sourceFeature") === col("sf"))
      .join(o2, col("receivingFeature") === col("rf"))
      .groupBy(col("c1"), col("c2"))
      .agg(count(lit(1)).as("number_of_members"),
        sort_array(collect_list(col("strain"))).as("members"))

    val featureNeighbours = t.neighbourEdges.select(
      col("sourceFeature").as("src"), col("receivingFeature").as("dst"), col("strain"))

    // O6+J9: STRAIN nodes, membership edges, deduped 2-hop cluster⋈strain
    // (a membership row already carries its feature's strain: no join)
    val strains = features0.select(col("Strain").as("name")).distinct()
    val featureInStrain = features0.select(col("Name").as("feature_id"),
      col("Strain").as("strain"))
    val clusterInStrain = membership
      .select(col("cluster_id"), col("Strain").as("strain")).distinct()

    GraphTables(features, clusters, strains, ortholog, clusterNeighbours,
      featureNeighbours, featureInStrain, clusterInStrain, Some(membership))
  }

  // ------------------------------------------------------------------
  // Enrichment job  (extendingDB_FeatureAndStrainMetrics.py + 02_*.cypher)
  // ------------------------------------------------------------------

  case class EnrichedTables(features: DataFrame, strains: DataFrame)

  /** P8 decode -> P9 GC -> P10 CAI per CDS feature, J11 upsert onto the
    * feature table, A1 per-strain avg/stddev written onto strains.
    * Null CAI (reference: NaN) is skipped by the strain aggregates —
    * Neo4j's avg/stDev ignore missing properties the same way.
    *
    * Decode, GC and CAI are all codegen kernels
    * ([[graft.functions.VariationDecodeExpr]] — custom null contract, a
    * null variation is the reference locus itself and still decodes —
    * [[graft.functions.GcContentExpr]], [[graft.functions.CaiNativeExpr]],
    * each a scalar-fallback drop-in, CaiRelationalSpec/GcContentExprSpec),
    * so the metric projection has ZERO UDF boundaries: one whole-stage
    * codegen span from the join output to the metric frame. The
    * empty-decode guard keeps [[Cai.gcContentOpt]]'s None-on-empty
    * contract (a fabricated GC=0 would skew the strain z-scores); CAI of
    * the empty string is 1.0 on both paths (the Biopython n=0 quirk).
    */
  def enrich(spark: SparkSession, g: GraphTables): EnrichedTables = {
    graft.functions.GraftExtensions.registerInto(spark)

    val metrics = g.features.filter(col("FeatureType") === "CDS")
      .join(g.ortholog.withColumnRenamed("feature_id", "Name"), Seq("Name"))
      .join(g.clusters.select(col("cluster_id"), col("reference_sequence")),
        Seq("cluster_id"))
      .withColumn("full_seq",
        expr("variation_decode_native(Variation, reference_sequence)"))
      .select(col("Name").as("featureID"),
        when(length(col("full_seq")) > 0, expr("gc_content_native(full_seq)")).as("GC"),
        expr("cai_native(full_seq)").as("CAI"))

    // J11: MERGE ... ON MATCH SET — keyed upsert via left join + coalesce
    val features = g.features
      .join(metrics, col("Name") === col("featureID"), "left")
      .drop("featureID")

    // A1: per-strain sample stddev/avg (Neo4j stDev = sample)
    val strains = features.groupBy(col("Strain").as("name"))
      .agg(avg(col("GC")).as("avg_GC"), stddev_samp(col("GC")).as("stDev_GC"),
        avg(col("CAI")).as("avg_CAI"), stddev_samp(col("CAI")).as("stDev_CAI"))

    EnrichedTables(features, strains)
  }

  // ------------------------------------------------------------------
  // Analyses  (GIsInStrain.ipynb + RGPs.ipynb, SURVEY §3 entry point 3)
  // ------------------------------------------------------------------

  /** Features with a guaranteed `Contig` column: synthetic builders
    * ([[graft.Rehearsal]], the brute-force specs) construct feature
    * frames without one — absent means the reference's single-chain
    * assumption, normalized to the constant chain "0" so one code path
    * serves both (`(Strain, "0")` partitions identically to `(Strain)`).
    */
  private def withContig(df: DataFrame): DataFrame =
    if (df.columns.contains("Contig")) df else df.withColumn("Contig", lit("0"))

  /** Opt-in skew conf: a positive long under `key` routes the per-strain
    * window at that site through the `Skew` two-phase plans (bit-identical
    * output, hot strain scattered); unset = the plain window. Surface
    * stability by default — a 770-strain corpus with no mega-genome pays
    * nothing.
    */
  private def skewSpan(df: DataFrame, key: String): Option[Long] =
    df.sparkSession.conf.getOption(key).map(_.toLong).filter(_ > 0)

  /** Genome-track query (lifecycle #1): per-strain ordered features with
    * z-scored GC/CAI, deviation flags and the W1-W3 rolling windows —
    * GIsInStrain.ipynb cells 3-8 as one plan: join -> position -> windows.
    *
    * `position` is per STRAIN (global coordinates order replicons in
    * concatenation order), but the rolling windows partition by
    * `(Strain, Contig)`: GC smoothing and GI flags must not blend across
    * a replicon boundary (a plasmid's first window starts fresh, it does
    * not inherit the chromosome tail's composition).
    */
  def genomeTrack(e: EnrichedTables, g: GraphTables): DataFrame = {
    val nGenomes = g.ortholog
      .join(g.clusters.select(col("cluster_id"), col("number_genomes")), Seq("cluster_id"))
      .select(col("feature_id"), col("number_genomes"))
    val joined = withContig(e.features)
      .join(e.strains.withColumnRenamed("name", "strain_name"),
        col("Strain") === col("strain_name"))
      .join(nGenomes, col("Name") === col("feature_id"), "left")
    // 100 TB posture: `graft.skew.trackChunkSpan` (a Start-coordinate
    // span) swaps the per-Strain row_number for Skew.globalRowNumber
    // (the distributed zipWithIndex) and the three rolling windows for
    // ONE Skew.rowsRolling pass at the deepest reach (19), each narrower
    // frame re-framed off the same carried spec. Bit-identical output
    // (SkewLifecycleSpec: the frame SETS match and rows feed each frame
    // in the same position order, so even the double-valued smooth_GC
    // reproduces exactly); a mega-genome scatters instead of
    // serializing. Unset = the plain two-window plan.
    val skewSpanOpt = skewSpan(joined, "graft.skew.trackChunkSpan")
    val positioned = skewSpanOpt match {
      case Some(span) =>
        graft.operators.Skew.globalRowNumber(joined, Seq("Strain"),
          col("Start"), Seq(col("Name")), span, "__pos")
          .withColumn("position", col("__pos").cast("int")).drop("__pos")
      case None =>
        joined.withColumn("position", row_number().over(
          Window.partitionBy(col("Strain")).orderBy(col("Start"), col("Name"))))
    }
    val tracked = positioned
      .withColumn("z_GC", (col("GC") - col("avg_GC")) / col("stDev_GC"))
      .withColumn("z_CAI", (col("CAI") - col("avg_CAI")) / col("stDev_CAI"))
      .withColumn("deviating_GC", (abs(col("z_GC")) >= 1.5).cast("int"))
      .withColumn("deviating_CAI", (abs(col("z_CAI")) >= 1.5).cast("int"))
    def trackAggs(wp: org.apache.spark.sql.expressions.WindowSpec) = Seq(
      "smooth_GC" -> avg(col("z_GC")).over(wp.rowsBetween(-9, 0)),
      "gi_flag" ->
        (sum(coalesce(col("deviating_GC"), lit(0))).over(wp.rowsBetween(-19, 0)) > 5)
          .cast("int"),
      "rare_flag" ->
        (max(col("number_genomes")).over(wp.rowsBetween(-4, 0)) <= 600).cast("int"))
    val rolled = skewSpanOpt match {
      case Some(_) =>
        // positions are dense per strain, so the rn-axis chunk span is
        // just window * chunkFactor — no tuning knob needed
        graft.operators.Skew.rowsRolling(tracked, Seq("Strain", "Contig"),
          col("position"), Nil, window = 19, chunkSpan = 80L)(trackAggs)
      case None =>
        val wp = Window.partitionBy(col("Strain"), col("Contig"))
          .orderBy(col("position"))
        trackAggs(wp).foldLeft(tracked) { case (acc, (n, c)) => acc.withColumn(n, c) }
    }
    rolled.select(col("Strain"), col("Contig"), col("position"), col("Name"),
      col("GC"), col("CAI"),
      col("z_GC"), col("z_CAI"), col("deviating_GC"), col("deviating_CAI"),
      col("smooth_GC"), col("gi_flag"), col("rare_flag"), col("number_genomes"))
  }

  /** RGP miner (lifecycle #2): anchor selection (G4+G5) -> positional span
    * join (G7) -> span projections (G8-G10) -> Welch t significance (A17).
    *
    * Parameters mirror the notebook constants: coreFrac 0.95 (number_genomes
    * > coreFrac·nStrains), majorityFrac 0.7 (r.number_of_members >
    * majorityFrac·nb_out), path bounds *minEdges..maxEdges* in edge counts
    * (reference *5..200), requireMobile = the notebook's any(integrase|
    * transposase) predicate, background n2 = 5000 (RGPs.ipynb cell 19).
    */
  def rgpMine(
      e: EnrichedTables, g: GraphTables,
      coreFrac: Double = 0.95, majorityFrac: Double = 0.7,
      minEdges: Int = 5, maxEdges: Int = 200,
      requireMobile: Boolean = true,
      nStrains: Option[Long] = None): DataFrame = {

    // G4: undirected out-degree weights; G5: anchor pairs (both-core +
    // majority edge), matched in both orientations like Cypher's (c1)-[r]-(c2)
    val dirEdges = g.clusterNeighbours.select(col("c1"), col("c2"),
      col("number_of_members").as("w"))
    val bothDirs = dirEdges.unionByName(
      dirEdges.select(col("c2").as("c1"), col("c1").as("c2"), col("w")))
    // nb_out is the *directed* outgoing weight (reduce over (c1)-[n]->(),
    // RGPs.ipynb:455-460) even though the pair match itself is undirected
    val nbOut = dirEdges.groupBy(col("c1")).agg(sum(col("w")).as("nb_out"))
    // Core selection stays lazy: nStrains is either caller-supplied (the
    // reference hardcodes 770) or a broadcast single-row scalar joined in —
    // never a driver-side count(), so *building* this plan runs zero jobs.
    val core = nStrains match {
      case Some(n) =>
        g.clusters.filter(col("number_genomes") > coreFrac * n)
          .select(col("cluster_id"))
      case None =>
        g.clusters
          .crossJoin(broadcast(g.strains.agg(count(lit(1)).as("n_strains"))))
          .filter(col("number_genomes") > lit(coreFrac) * col("n_strains"))
          .select(col("cluster_id"))
    }
    val anchorPairs = bothDirs
      .join(nbOut, Seq("c1"))
      .filter(col("c1") =!= col("c2") && col("w") > col("nb_out") * majorityFrac)
      .join(core.withColumnRenamed("cluster_id", "c1"), Seq("c1"), "left_semi")
      .join(core.withColumnRenamed("cluster_id", "c2"), Seq("c2"), "left_semi")
      .select(col("c1"), col("c2")).distinct()

    // positional model: feature positions per strain (W5)
    val pos = Window.partitionBy(col("Strain")).orderBy(col("Start"), col("Name"))
    val positioned = withContig(e.features)
      .withColumn("position", row_number().over(pos))
      .join(g.ortholog.withColumnRenamed("feature_id", "Name"), Seq("Name"))

    // G7: anchor occurrences of c1/c2 in the same strain AND same contig
    // within path bounds (per-occurrence multiplicity: every qualifying
    // f1/f2 pair is a path). The contig equality is the NEIGHBOUR-path
    // fidelity guard: a path `-[:NEIGHBOUR*]->` can never cross a
    // replicon boundary, so two anchors on different contigs of the same
    // strain are NOT a span even when their positions are close. The
    // body join below needs no guard of its own: global coordinates make
    // each contig a contiguous position block, so every position strictly
    // between two same-contig anchors lies on that contig.
    val f1 = positioned.select(col("Strain"), col("Contig"),
      col("cluster_id").as("c1"),
      col("Name").as("anchor1"), col("position").as("pos1"))
    val f2 = positioned.select(col("Strain").as("st2"), col("Contig").as("ct2"),
      col("cluster_id").as("c2b"),
      col("Name").as("anchor2"), col("position").as("pos2"))
    val spans = anchorPairs
      .join(f1, Seq("c1"))
      .join(f2, col("Strain") === col("st2") && col("Contig") === col("ct2") &&
        col("c2b") === col("c2") &&
        (col("pos2") - col("pos1")).between(minEdges, maxEdges))
      .select(col("Strain"), col("c1"), col("c2"), col("anchor1"), col("anchor2"),
        col("pos1"), col("pos2"))

    // G8+G9+G10: intervening features (nodes(path)[1..-1] minus both
    // anchors), ordered collects + list projections, mobile-gene predicate
    val body = positioned.select(col("Strain").as("bs"), col("position").as("bpos"),
      col("Name").as("bname"), col("Product").as("bprod"),
      col("FeatureType").as("btype"), col("cluster_id").as("bcluster"),
      col("GC").as("bGC"), col("CAI").as("bCAI"))
    val spanRows = spans.join(body,
      col("Strain") === col("bs") &&
      col("bpos") > col("pos1") && col("bpos") < col("pos2"))

    val insertions = spanRows
      .groupBy(col("Strain"), col("c1"), col("c2"), col("anchor1"), col("anchor2"),
        col("pos1"), col("pos2"))
      .agg(
        (col("pos2") - col("pos1") - 1).as("InsertionNbFeatures"),
        min_by(struct(col("bpos"), col("bname")), col("bpos"))
          .getField("bname").as("first_feature"),
        expr("transform(array_sort(collect_list(struct(bpos, bcluster))), x -> x.bcluster)")
          .as("InsertionListClusterID"),
        expr("transform(array_sort(collect_list(struct(bpos, bGC))), x -> x.bGC)")
          .as("InsertionListGC"),
        expr("transform(array_sort(collect_list(struct(bpos, bCAI))), x -> x.bCAI)")
          .as("InsertionListCAI"),
        expr("sort_array(collect_list(CASE WHEN bprod LIKE '%integrase%' " +
          "OR bprod LIKE '%transposase%' THEN bprod END))")
          .as("InsertionListMobileNames"),
        sum(when(col("btype") === "tRNA", 1).otherwise(0)).as("n_tRNA"))
      .withColumn("has_mobile", size(col("InsertionListMobileNames")) > 0)

    val filtered = if (requireMobile) insertions.filter(col("has_mobile")) else insertions

    // A17: Welch t of the insertion's GC/CAI lists vs the strain background
    // (mean/stddev from strain stats, n2 = 5000), nulls skipped like the
    // notebook's None-filtering (RGPs.ipynb:1044-1045). Mean/stddev of the
    // span list are array folds (codegen, no UDF); only the t-CDF p-value
    // goes through the registered scalar function.
    GraftFunctions.register(e.features.sparkSession)
    def welch(listCol: String, mCol: String, sdCol: String, p: String)(df: DataFrame): DataFrame = {
      val clean = s"filter($listCol, x -> x IS NOT NULL)"
      df
        .withColumn(s"${p}_n1", expr(s"size($clean)").cast("double"))
        .withColumn(s"${p}_s1", expr(s"aggregate($clean, 0D, (a, x) -> a + x)"))
        .withColumn(s"${p}_s2", expr(s"aggregate($clean, 0D, (a, x) -> a + x * x)"))
        .withColumn(s"${p}_m1",
          when(col(s"${p}_n1") >= 2, col(s"${p}_s1") / col(s"${p}_n1")))
        .withColumn(s"${p}_sd1", when(col(s"${p}_n1") >= 2, sqrt(greatest(
          (col(s"${p}_s2") - col(s"${p}_s1") * col(s"${p}_s1") / col(s"${p}_n1")) /
            (col(s"${p}_n1") - 1.0), lit(0.0)))))
        .withColumn(s"t_$p", {
          // a zero pooled variance (both the span list AND the background
          // constant — degenerate but reachable: all-identical GC) makes
          // the denominator 0, which under ANSI mode is a query-killing
          // DIVIDE_BY_ZERO instead of scipy's NaN. Guard it: the
          // reference's ttest on zero variance lands in the NaN path
          // (RuntimeWarning -> NaN), which is null here. Found by
          // RgpBruteForceSpec's random degenerate corpora.
          val pooled = col(s"${p}_sd1") * col(s"${p}_sd1") / col(s"${p}_n1") +
            col(sdCol) * col(sdCol) / lit(5000.0)
          when(col(s"${p}_n1") >= 2 && col(mCol).isNotNull &&
              col(sdCol).isNotNull && pooled > 0.0,
            (col(s"${p}_m1") - col(mCol)) / sqrt(pooled))
        })
        .withColumn(s"df_$p",
          when(col(s"t_$p").isNotNull,
            expr(s"welch_df(${p}_sd1, ${p}_n1, $sdCol, 5000.0)")))
        .withColumn(s"p_$p",
          when(col(s"t_$p").isNotNull, expr(s"welch_p(t_$p, df_$p)")))
    }

    filtered
      .join(e.strains, col("Strain") === col("name"))
      .transform(welch("InsertionListGC", "avg_GC", "stDev_GC", "GC"))
      .transform(welch("InsertionListCAI", "avg_CAI", "stDev_CAI", "CAI"))
      .select(col("Strain"), col("c1"), col("c2"), col("anchor1"), col("anchor2"),
        col("pos1"), col("pos2"), col("InsertionNbFeatures"),
        col("InsertionListClusterID"), col("InsertionListGC"), col("InsertionListCAI"),
        col("InsertionListMobileNames"), col("n_tRNA"), col("has_mobile"),
        col("t_GC"), col("p_GC"), col("t_CAI"), col("p_CAI"))
  }

  /** C1: Dice similarity between insertions' cluster-ID sets, dispatched by
    * size ([[graft.operators.Similarity.dicePairs]]): all-pairs at the
    * reference's N≈5k, MinHash-LSH candidates + exact Dice above
    * `maxExactRows` (requires a `minDice` floor — a full quadratic matrix
    * is only producible by the exact branch).
    */
  def insertionDice(
      insertions: DataFrame,
      minDice: Double = 0.0, maxExactRows: Long = 20000): DataFrame = {
    val withSet = insertions.withColumn("cset", array_distinct(col("InsertionListClusterID")))
      .withColumn("iid", concat_ws("|", col("Strain"), col("pos1"), col("pos2")))
    graft.operators.Similarity
      .dicePairs(withSet, "iid", "cset", minDice, maxExactRows)
      .select(col("id1").as("i1"), col("id2").as("i2"), col("dice"))
  }

  /** Anchor-group phylogenetic spread (RGPs.ipynb cells 44-67): for each
    * anchor pair, the distinct strains carrying an insertion between those
    * anchors (cell 44, A10), all unordered strain pairs within the group
    * (J14), the patristic distance of each pair on the supplied Newick
    * tree (cells 47-48, A12 — broadcast LCA index, one scalar lookup per
    * pair), and the per-group min/mean/max (cell 51, A7). Groups with a
    * single strain yield no distance and are dropped, like the notebook's
    * `if idxs == []: continue`.
    *
    * Scale: the tree index is broadcast (one compact structure for 770
    * strains); the pair join is per-anchor-group and each group is at most
    * |strains| wide, so the quadratic stays bounded by group size, never
    * corpus size.
    */
  def anchorPhylo(insertions: DataFrame, newick: String): DataFrame = {
    val spark = insertions.sparkSession
    val idx = spark.sparkContext.broadcast(graft.functions.Newick.index(newick))
    val dist = udf((a: String, b: String) => idx.value.distance(a, b))
    val strainSets = insertions.select(col("c1"), col("c2"), col("Strain")).distinct()
    val a = strainSets.select(col("c1"), col("c2"), col("Strain").as("s1"))
    val b = strainSets.select(col("c1").as("d1"), col("c2").as("d2"),
      col("Strain").as("s2"))
    a.join(b, col("c1") === col("d1") && col("c2") === col("d2") &&
        col("s1") < col("s2"))
      .withColumn("d", dist(col("s1"), col("s2")))
      .groupBy(col("c1"), col("c2"))
      .agg(count(lit(1)).as("n_distances"),
        min(col("d")).as("min_distance"),
        avg(col("d")).as("mean_distance"),
        max(col("d")).as("max_distance"))
  }

  /** C3/C4 over insertions: flat clustering of the Dice/Jaccard structure,
    * size-dispatched ([[graft.operators.Similarity.cluster]]) — exact
    * complete-linkage (scipy fidelity, RGPs.ipynb cells 85-93) on the
    * driver at reference scale, LSH graph + connected components beyond.
    */
  def insertionClusters(
      insertions: DataFrame, cutoff: Double = 0.3,
      maxDriverN: Long = 20000): DataFrame = {
    val withSet = insertions.withColumn("cset", array_distinct(col("InsertionListClusterID")))
      .withColumn("iid", concat_ws("|", col("Strain"), col("pos1"), col("pos2")))
    graft.operators.Similarity.cluster(withSet, "iid", "cset", cutoff, maxDriverN)
  }
}
