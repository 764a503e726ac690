package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The scale contract, pinned at the plan level for EVERY driver-contract
  * query (ground truth: `graft.Probe` run with no query named):
  *
  *  - no CartesianProduct, anywhere, ever;
  *  - BroadcastNestedLoopJoin only where the operator is a deliberate
  *    broadcast-scalar cross join (the de-eager n_users/centroid/t-table
  *    pattern) or a bounded theta join whose small side is broadcast;
  *  - single-partition exchanges only under single-row scalar aggregates
  *    (or the documented ≤256-token vocab window in c1/c2) — never a
  *    global window/sort over fact data.
  *
  * A new operator that accidentally introduces a quadratic join or a
  * global funnel fails here by name instead of surfacing as a 100x
  * regression on a cluster.
  */
class PlanContractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  // one planning pass for the whole suite; builders that run bounded
  // actions (c3 driver linkage, d8 CC, d4 footer read) do so here once.
  // Each build is Try-wrapped so ONE broken query reports as one named
  // failure in the dedicated test below instead of aborting every
  // contract check for the other ~140 (the r7 d18 lesson).
  private lazy val buildAttempts: Map[String, scala.util.Try[org.apache.spark.sql.DataFrame]] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> scala.util.Try(fn(spark, sf))
    }
  private lazy val built: Map[String, org.apache.spark.sql.DataFrame] =
    buildAttempts.collect { case (name, scala.util.Success(df)) => name -> df }
  private lazy val plans: Map[String, String] =
    built.map { case (name, df) =>
      name -> scala.util.Try(df.queryExecution.executedPlan.toString)
        .getOrElse("")
    }.filter(_._2.nonEmpty)

  test("every query in SparkEntry.queries builds and plans") {
    val broken = buildAttempts.collect {
      // String.valueOf: a bare NPE has a null message, and the report
      // must name the broken query, not NPE inside the reporting itself
      case (n, scala.util.Failure(e)) =>
        s"$n: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}"
    }
    assert(broken.isEmpty, s"queries failing at analysis/planning time:\n  ${broken.toSeq.sorted.mkString("\n  ")}")
    val unplanned = built.keySet -- plans.keySet
    assert(unplanned.isEmpty, s"queries failing at physical planning: ${unplanned.toSeq.sorted}")
  }

  test("no CartesianProduct in any query plan") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"cartesian joins in: ${offenders.toSeq.sorted}")
  }

  // each member is a broadcast-scalar cross join (1-row n_users/t-table/
  // centroid side) or a bounded theta join with the small side broadcast
  private val bnljAllowed = Set(
    "a12_tree_distance",      // broadcast LCA index cross join
    "a15_core_membership",    // broadcast 1-row group-size scalar
    "a17_welch_pvalue", "a17_welch_t", // broadcast t-table / group scalars
    "c1_dice_similarity", "c2_jaccard_distance", // id1<id2 theta, sets broadcast
    "d5_cosine_topk", "d5b_cosine_topk_agg",     // broadcast query vectors
    "d7_ann_ivf",             // broadcast sampled centroids
    "x14_ann_recall",         // d5's broadcast queries + d7's broadcast centroids
    "x15_ivf_pq",             // same gt leg as x14: broadcast query vectors, id<>qid theta
    "d13_semdedup",           // broadcast sampled centroids (d7's frame)
    "d17_hll_cardinality",    // broadcast 64-row register-grid densifier
    "t16_bigram_surprisal",   // broadcast 1-row corpus-token-total scalar (t11's shape)
    "x11_rag_retrieval",      // broadcast sampled chunk centroids (d7's shape)
    "x10_embedding_curation", // semDedup's broadcast centroids inside
    "j15_cross_pairs",        // the operator IS the cross product (bounded)
    "t6_stratified_sample",   // broadcast 1-row quota scalar
    "t10_temperature_mix",    // broadcast 1-row (N, W) weight-total scalar
    "t11_unigram_surprisal",  // broadcast 1-row corpus-token-total scalar
    "d14_dsir_select",        // broadcast 1-row LM-total scalar (t11's shape)
    "d15_bm25_topk",          // broadcast 1-row (L, Nd) corpus-stats scalar
    "d15b_bm25_pruned",       // d15's 1-row scalar, pruned postings
    "d21_bloom_decontaminate",// broadcast 1-row bloom-bit-set scalar cross join
    "d22_hdr_quantiles",      // broadcast 1-row bucket-summary + value-histogram scalars
    "d23_kmv_source_overlap", // source-domain sketch pairs, src_a<src_b theta, sketches broadcast
    "x12_hybrid_retrieval",   // d15's scalar + bounded broadcast query side (d5's shape)
    "x12b_hybrid_pruned",     // x12's shape on d15b's pruned postings
    "x12c_hybrid_ivf",        // d15's scalar + d7's broadcast centroids (IVF dense leg)
    "x12d_hybrid_auto",       // resolves to x12b's plan on test corpora (footer-routed)
    "x12e_hybrid_ivfpq",      // d15's scalar + d7's centroids + d16's PQ codebooks (all broadcast/bounded)
    "t11b_quantile_bands",    // broadcast 1-row tercile-threshold scalar (t11's shape)
    "t11c_band_fractions",    // t11b's threshold scalar + 1-row n_total scalar
    "x2_rgp_mine", "x3_anchor_phylo", "x4_core_genes", // broadcast scalars
    "x8_training_mix",        // broadcast quota/funnel 1-row scalars
    "x9_curriculum_mix")      // broadcast token-total/weight/funnel scalars

  test("BroadcastNestedLoopJoin only in the documented broadcast/theta set") {
    val offenders = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") && !bnljAllowed(n) => n
    }
    assert(offenders.isEmpty, s"unexpected nested-loop joins in: ${offenders.toSeq.sorted}")
  }

  // each member funnels to one partition ONLY for a single-row scalar
  // aggregate (count-distinct totals, Welch background, core fraction) or
  // c1/c2's ≤256-token vocabulary ranking (capacity-asserted in DomainOps)
  private val singlePartitionAllowed = Set(
    "a4_distinct_count", "a15_core_membership",
    "a17_welch_pvalue", "a17_welch_t",
    "c1_dice_similarity", "c2_jaccard_distance",
    "o5_explode_distinct", "p15_null_predicates",
    "t6_stratified_sample",   // 1-row min-count quota scalar
    "t10_temperature_mix",    // 1-row (N, W) weight-total scalar
    "t11_unigram_surprisal",  // 1-row corpus-token-total scalar
    "t16_bigram_surprisal",   // 1-row corpus-token-total scalar (t11's shape)
    "d14_dsir_select",        // 1-row LM-total scalar (t11's shape)
    "d15_bm25_topk",          // 1-row (L, Nd) corpus-stats scalar
    "d15b_bm25_pruned",       // d15's scalar under the df-cap filter
    "d21_bloom_decontaminate",// 1-row dense bit-word scalar (m/64 = 1024 longs)
    "d22_hdr_quantiles",      // 1-row bucket-summary + value-histogram scalars
    "x12_hybrid_retrieval",   // 1-row corpus-stats scalar (d15's frame)
    "x12b_hybrid_pruned",     // x12's scalar frame, pruned postings
    "x12c_hybrid_ivf",        // x12b's scalar frame, IVF dense leg
    "x12d_hybrid_auto",       // x12b's scalar frame (auto routes exact here)
    "x12e_hybrid_ivfpq",      // x12b's scalar frame, IVF-PQ dense leg
    "t11b_quantile_bands",    // milli-bit DOMAIN cumulative window (≤64k rows,
                              // t13's bounded-domain precedent) + 1-row scalars
    "t11c_band_fractions",    // t11b's domain window + scalars, band-grain output
    "t13_vocab_coverage",     // vocab-domain ranking window (c1/c2 precedent)
    "x2_rgp_mine", "x3_anchor_phylo", "x4_core_genes",
    "x8_training_mix",        // 1-row quota + funnel-count scalars
    "x9_curriculum_mix",      // 1-row token-total/weight/funnel scalars
    // optimizer-injected runtime bloom-filter subquery on the survivor
    // joins (InjectRuntimeFilter): the SinglePartition merges per-task
    // bloom sketches into ONE constant-size filter — a scalar-aggregate
    // shape, not a data funnel
    "x10_embedding_curation")

  test("single-partition exchanges only under scalar aggregates") {
    val offenders = plans.collect {
      case (n, p) if p.contains("SinglePartition") && !singlePartitionAllowed(n) => n
    }
    assert(offenders.isEmpty, s"unexpected global funnels in: ${offenders.toSeq.sorted}")
  }

  // each member evaluates the broadcast LCA tree index — a domain OBJECT
  // lookup with no columnar form. Everything else (codecs, GC/CAI,
  // minhash/simhash/hyperplane sketches, hashes) is a codegen kernel or a
  // builtin chain since r5; a new UDF boundary in a hot path fails here
  // by name (every row pays a Tungsten->JVM materialization at one).
  private val udfAllowed = Set("a12_tree_distance", "x3_anchor_phylo")

  test("UDF boundaries only under the broadcast tree-distance lookups") {
    val offenders = plans.collect {
      case (n, p) if p.contains("UDF") && !udfAllowed(n) => n
    }
    assert(offenders.isEmpty, s"unexpected UDF boundaries in: ${offenders.toSeq.sorted}")
  }

  test("s1 scan pushes its filter and prunes to the projected columns") {
    val p = plans("s1_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag").foreach(c =>
      assert(readSchema.contains(c), s"column $c missing from scan: $readSchema"))
    assert(!readSchema.contains("l_extendedprice"),
      s"scan reads more than the projection: $readSchema")
  }

  test("j1's small side actually broadcasts") {
    assert(plans("j1_broadcast_inner").contains("BroadcastHashJoin"))
  }

  // forced broadcast() hints override Spark's size threshold, so they are
  // only legal on frames whose size is bounded by a DOMAIN, not by the
  // fact table (the d9b/j3/x1 lesson — a hint on a corpus-scaled frame
  // OOMs the driver at exactly the scale the operator targets). Every
  // member is one of: a 1-row scalar, a literal key list, a closed value
  // domain (nation/region/event-type/word dim), the 10 query vectors, or
  // d7's footer-stride-capped centroids.
  private val hintAllowed = Set(
    "a11_dedup_compute_join",                 // (lang, source) domain dim
    "a15_core_membership",                    // 1-row group-size scalar
    "a17_welch_pvalue", "a17_welch_t",        // 1-row background moments
    "d11_source_overlap",                     // per-source totals (source domain)
    "d12_embedding_centroids",                // label-domain centroid frame
    "d5_cosine_topk", "d5b_cosine_topk_agg",  // 10 query vectors
    "d7_ann_ivf",                             // centroids capped ~4096
    "d13_semdedup",                           // centroids capped ~4096 (d7's cap)
    "x11_rag_retrieval",                      // chunk centroids capped ~2048
    "d16_pq_adc",                             // subspace codebooks + per-query ADC tables (both centroid-capped)
    "x10_embedding_curation",                 // label-domain centroid/count frames
    "j16_point_lookup",                       // literal key list
    "j1_broadcast_inner", "j7_explode_join", "j8_star_join", // closed dims
    "p11_deviation_flag", "p12_zscore_flag",  // per-event-type stats (5)
    "t6_stratified_sample",                   // lang-domain counts + 1-row quota
    "t10_temperature_mix",                    // lang-domain targets + 1-row totals
    "t11_unigram_surprisal",                  // 1-row corpus-token total
    "d14_dsir_select",                        // 1-row LM-total scalar
    "d17_hll_cardinality",                    // 64-row register-grid densifier
    "t16_bigram_surprisal",                   // 1-row corpus-token-total scalar
    "x14_ann_recall",                         // 10 query vectors + capped centroids
    "x15_ivf_pq",                             // x14's queries/centroids + d16's ADC tables
    "d19_heavy_hitters",                      // lang-domain per-lang token totals
    "d20_count_min",                          // 128-cell sketch frame (4x32 grid)
    "d21_bloom_decontaminate",                // 1-row bloom bits + eval digest set
    "d22_hdr_quantiles",                      // 1-row bucket-summary + value-histogram scalars
    "d23_kmv_source_overlap",                 // source-domain (≤64-long) sketch frame
    "x12_hybrid_retrieval",                   // bounded query-side broadcast
    "x12b_hybrid_pruned",                     // x12's bounded query side, pruned postings
    "x12c_hybrid_ivf",                        // x12b's query side + d7-capped centroids
    "x12d_hybrid_auto",                       // x12b's bounded query side (auto dispatch)
    "x12e_hybrid_ivfpq",                      // x12b's query side + capped centroids/codebooks
    "t11b_quantile_bands",                    // 1-row token-total + tercile-threshold scalars
    "t11c_band_fractions",                    // t11b's scalars + 1-row n_total
    "x9_curriculum_mix",                      // lang targets + 1-row totals
    "x1_genome_track",                        // per-event-type counts
    "x2_rgp_mine", "x3_anchor_phylo",         // type-pair anchors + 1-row scalars
    "x4_core_genes", "x5_feature_metrics",    // broadcast scalars
    "x8_training_mix")                        // pred_lang counts + 1-row scalars

  test("forced broadcast hints only on bounded-domain frames") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val offenders = built.collect {
      case (n, df) if !hintAllowed(n) &&
        df.queryExecution.optimizedPlan.collectFirst {
          case j: Join if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
        }.nonEmpty => n
    }
    assert(offenders.isEmpty,
      s"forced join hints on unvetted frames in: ${offenders.toSeq.sorted}")
  }
}
