package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** CorpusRehearsal at miniature scale: the planted dup/contamination laws
  * hold document-by-document, every funnel stage moves, and the generator
  * is deterministic (the full-scale artifact's analysis block doubles as
  * a cross-run pin because of it).
  */
class CorpusRehearsalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("planted copy/near-dup/contamination laws hold row-by-row") {
    val docs = CorpusRehearsal.synthesize(spark, 300)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // id = 38 (= 1 mod 37) copies 37 verbatim
    assert(docs(38L) == docs(37L))
    // id = 42 (= 1 mod 41) differs from 41 in EXACTLY one token
    val (a, b) = (docs(42L).split(" "), docs(41L).split(" "))
    assert(a.length == b.length)
    assert(a.zip(b).count { case (x, y) => x != y } == 1)
    // id = 9 (= 9 mod 53) carries eval doc 7's first 10 tokens at 20-29
    val (c9, e7) = (docs(9L).split(" "), docs(7L).split(" "))
    assert(c9.slice(20, 30).toSeq == e7.slice(0, 10).toSeq)
  }

  test("every funnel stage moves at miniature scale; counts are coherent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_creh").toString
    val (timings, stats) = CorpusRehearsal.run(spark, 2000, dir)
    val m = stats.toMap.view.mapValues(_.toLong).toMap
    assert(timings.map(_._1) == Seq("materialize", "text_metrics",
      "exact_dedup", "minhash_neardup", "semantic_dedup", "dup_spans",
      "decontaminate", "decontaminate_bloom", "mix_shard",
      "surprisal_band", "temperature_mix", "classifier_gate",
      "dsir_select", "data_card", "kmv_overlap",
      "bm25_retrieve", "bm25_retrieve_pruned",
      "hybrid_retrieve", "hybrid_retrieve_pruned", "hybrid_retrieve_ivf",
      "hybrid_auto_route", "hybrid_retrieve_auto",
      "ivfpq_retrieve"))
    // every stage records the process CPU it took beside its wall time,
    // and the CPU its Spark tasks took, which is a part of the former
    assert(timings.forall(_._3 > 0), s"stage CPU seconds: $timings")
    assert(timings.forall(t => t._4 >= 0 && t._4 <= t._3), s"executor CPU seconds: $timings")
    // pruning can only shrink the candidate-pair workload
    assert(m("n_bm25_cand_pairs_pruned") <= m("n_bm25_cand_pairs"))
    // the bloom gate NEVER misses an exactly-contaminated doc, and its
    // flag count decomposes into exact hits + counted false positives
    assert(m("n_bloom_missed_docs") == 0, "bloom false negative!")
    assert(m("n_bloom_flagged") ==
      m("n_contaminated") + m("n_bloom_false_pos_docs"))
    assert(m("n_bloom_words") > 0)
    assert(m("n_docs") == 2000 && m("n_tokens") > 0 && m("n_chunks") >= 2000)
    assert(m("n_exact_copies") > 0)
    assert(m("n_exact_groups") == m("n_docs") - m("n_exact_copies"))
    // minhash runs on the exact-dedup survivors (the ordering that
    // contains mega-dup buckets) and still finds the planted near-dups
    assert(m("n_sig_docs") == m("n_exact_groups"))
    assert(m("n_neardup_pairs") > 0)
    // the embedding-space detector (SemDeDup over deterministic
    // bag-of-words projections) independently drops near-dups among
    // the same canonical survivors; its counts partition the input
    assert(m("n_sem_dropped") > 0, s"semdedup flat: ${m("n_sem_dropped")}")
    assert(m("n_sem_survivors") + m("n_sem_dropped") == m("n_exact_groups"))
    // ~ n/53 contaminated, minus eval/dup overlaps
    assert(m("n_contaminated") >= 20 && m("n_contaminated") <= 45,
      s"contaminated=${m("n_contaminated")}")
    assert(m("n_clean") < m("n_docs") && m("n_sampled") <= m("n_clean"))
    assert(m("n_shards") == 16)
    assert(m("max_shard_docs") <= 2 * m("min_shard_docs"),
      s"shards unbalanced: ${m("min_shard_docs")}..${m("max_shard_docs")}")
    // surprisal banding covers every canonical survivor; the synthetic
    // vocab is near-uniform so the moments sit in a tight band
    assert(m("n_banded_docs") == m("n_exact_groups"))
    assert(m("n_band_head") + m("n_band_middle") + m("n_band_tail")
      == m("n_banded_docs"))
    assert(m("min_mean_bits_milli") > 0 &&
      m("min_mean_bits_milli") <= m("max_mean_bits_milli"))
    // r11: thresholds are corpus terciles, so ALL THREE bands must be
    // materially populated — the r10 fixed cuts put 100% in the tail
    // and rehearsed a no-op three-way split
    assert(m("n_band_head") > 0 && m("n_band_middle") > 0 &&
      m("n_band_tail") > 0,
      s"degenerate banding: ${m("n_band_head")}/${m("n_band_middle")}/${m("n_band_tail")}")
    assert(m("band_lo_milli") >= m("min_mean_bits_milli") &&
      m("band_lo_milli") <= m("band_hi_milli") &&
      m("band_hi_milli") <= m("max_mean_bits_milli"))
    // hybrid fusion: both variants answer the same bounded query
    // workload; fused top-5 exists for every query BM25 answered, and
    // at least one fused hit carries BOTH legs (the planted eval-gram
    // sharers guarantee lexical+dense agreement on this corpus)
    assert(m("n_hybrid_queries") == m("n_bm25_queries"))
    assert(m("n_hybrid_queries_pruned") == m("n_hybrid_queries"))
    assert(m("n_hybrid_hits") > 0 && m("n_hybrid_hits_pruned") > 0)
    assert(m("n_hybrid_both_legs") > 0,
      s"fusion degenerate: no doc ranked by both legs")
    // r12: the IVF dense-leg variant answers the same workload — misses
    // outside probed lists shrink the dense leg, never the query set
    assert(m("n_hybrid_queries_ivf") == m("n_hybrid_queries"))
    assert(m("n_hybrid_hits_ivf") > 0)
    // r14: the auto dispatch at rehearsal scale — the bounded query side
    // (~n/200 queries x canonical corpus pairs, far under the 1e8
    // default) must route EXACT, and the executed stage must then be
    // bit-identical in its summary stats to the pruned-exact variant it
    // dispatches to (same leg, same postings, same workload)
    assert(m("hybrid_auto_leg_ivf") == 0,
      s"bounded query side must route exact: pairs=${m("hybrid_auto_pairs")}")
    assert(m("hybrid_auto_pairs") > 0)
    assert(m("n_hybrid_queries_auto") == m("n_hybrid_queries"))
    assert(m("n_hybrid_hits_auto") == m("n_hybrid_hits_pruned"))
    assert(m("sum_hybrid_top1_rrf_auto") == m("sum_hybrid_top1_rrf_pruned"))
    assert(m("n_hybrid_both_legs_auto") == m("n_hybrid_both_legs_pruned"))
    // temperature dealing: Σ copies ≈ n_clean by construction, so the
    // movement pins are per-doc — the en-heavy skew upsamples some
    // tail-lang doc to ≥ 2 copies AND zero-deals some en docs
    assert(m("n_mix_rows") > 0)
    assert(m("max_doc_copies") >= 2, s"no upsample: ${m("max_doc_copies")}")
    assert(m("n_mix_dropped") > 0, s"no downsample: ${m("n_mix_dropped")}")
    assert(m("max_mix_shard_docs") <= 2 * m("min_mix_shard_docs"),
      s"mix shards unbalanced: ${m("min_mix_shard_docs")}..${m("max_mix_shard_docs")}")
    // classifier gate covers every canonical survivor; near-uniform
    // hashed weights mean BOTH sides of the threshold are populated
    assert(m("n_clf_docs") == m("n_exact_groups"))
    assert(m("n_clf_kept") > 0 && m("n_clf_kept") < m("n_clf_docs"),
      s"classifier degenerate: ${m("n_clf_kept")}/${m("n_clf_docs")}")
    assert(m("min_clf_logit") < 0 && m("max_clf_logit") > 0)
    // DSIR: the top-k is k = max(100, n/50) = 100; the planted eval-gram
    // sharers (id ≡ 9 mod 53) carry 10 guaranteed target tokens, so
    // their MEAN score must exceed the candidate-pool mean (exact
    // cross-multiplied comparison — the top-k itself is dominated by
    // the rarest raw language, the -log p_raw channel, so membership
    // there is not the right pin)
    assert(m("n_dsir_selected") == 100)
    assert(m("min_dsir_score") <= m("max_dsir_score"))
    assert(m("n_dsir_sharers_pool") > 0)
    assert(m("sum_dsir_sharer_score") * m("n_dsir_cand") >
      m("sum_dsir_all_score") * m("n_dsir_sharers_pool"),
      s"sharers not enriched: ${m("sum_dsir_sharer_score")}/${m("n_dsir_sharers_pool")}" +
        s" vs ${m("sum_dsir_all_score")}/${m("n_dsir_cand")}")
    // data card: every shard carries a card; quantile/HLL reads are
    // populated and ordered (p50 <= p95; the register sum is positive
    // and below the all-empty ceiling 64·2^54 since every shard saw
    // tokens)
    assert(m("n_card_shards") == 16)
    assert(m("min_card_p50") >= 1 && m("min_card_p50") <= m("max_card_p50"))
    assert(m("min_card_p95") >= m("min_card_p50"))
    assert(m("min_card_s_scaled") > 0 &&
      m("max_card_s_scaled") < 64L * 18014398509481984L)
    // KMV overlap: all 190 source pairs compared; planted cross-source
    // clones/eval windows make at least one pair genuinely overlap
    assert(m("n_kmv_pairs") == 190)
    assert(m("n_kmv_overlapping") > 0, "no cross-source overlap seen")
    assert(m("min_kmv_est") >= 0 && m("max_kmv_est") <= 1000)
    // BM25: every bounded query retrieves a full top-5 (the corpus is
    // far larger than 5 docs and every query shares vocabulary)
    assert(m("n_bm25_queries") > 0)
    assert(m("n_bm25_hits") == 5 * m("n_bm25_queries"),
      s"bm25 hits: ${m("n_bm25_hits")} for ${m("n_bm25_queries")} queries")
    assert(m("sum_bm25_top1") > 0 && m("max_bm25_score") > 0)
    // IVF-PQ retrieval: every query has a full exact-top-5 ground truth,
    // the 2-probe candidate sets are nonempty and bounded by the corpus,
    // and the reported recall is a valid fraction
    assert(m("n_ivfpq_queries") == 20)
    assert(m("n_ivfpq_gt") == 5 * m("n_ivfpq_queries"))
    assert(m("n_ivfpq_cand") > 0 && m("n_ivfpq_cand") < 20L * m("n_docs"))
    assert(m("n_ivfpq_hits") <= m("n_ivfpq_gt"))
    assert(m("ivfpq_recall_milli") >= 0 && m("ivfpq_recall_milli") <= 1000)
    assert(m("n_ivf_lists") >= 64, s"degenerate IVF: ${m("n_ivf_lists")} lists")
    // the queries are planted near-dups: their true NN is a genuine
    // cos≈0.99 clone and the index must find it (the curation retrieval
    // job); GT ranks 2-5 are near-orthogonal noise — the cosine split
    // must separate cleanly or the ground truth itself is degenerate
    assert(m("ivfpq_nn_recall_milli") >= 800,
      s"index misses planted near-dup NNs: ${m("ivfpq_nn_recall_milli")}")
    assert(m("ivfpq_gt_nn_cos_milli") >= 900,
      s"GT rank-1 not a genuine neighbor: ${m("ivfpq_gt_nn_cos_milli")}")
    assert(m("ivfpq_gt_noise_cos_milli") < m("ivfpq_gt_nn_cos_milli"))
    graft.operators.Scratch.deleteRecursively(new java.io.File(dir))
  }

  test("a mega-duplicate collapses at exact dedup; no band-bucket explosion downstream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_creh_hot").toString
    val (_, stats) = CorpusRehearsal.run(spark, 2000, dir, hotCopies = 500)
    val m = stats.toMap.view.mapValues(_.toLong).toMap
    // 500 clones -> 1 canonical; the band join never sees the clone block
    assert(m("n_exact_copies") >= 499, s"copies=${m("n_exact_copies")}")
    assert(m("n_sig_docs") == m("n_exact_groups"))
    // pairs stay at the planted scale (no C(500,2) bucket blowup)
    assert(m("n_neardup_pairs") < 200, s"pairs=${m("n_neardup_pairs")}")
    assert(m("n_sampled") <= m("n_clean"))
    graft.operators.Scratch.deleteRecursively(new java.io.File(dir))
  }

  test("generator is deterministic across plan builds") {
    def digest(): Long = CorpusRehearsal.synthesize(spark, 500)
      .agg(sum(pmod(
        xxhash64(col("doc_id"), col("lang"), col("source"), col("text")),
        lit(1000000007L))))
      .collect()(0).getLong(0)
    assert(digest() == digest())
  }
}
