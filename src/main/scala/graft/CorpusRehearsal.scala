package graft

import graft.operators.Ivf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Matched-scale rehearsal for the TRAINING-DATA pipeline family — the
  * corpus-side analogue of [[Rehearsal]]'s 770-strain lifecycle: synthesize
  * a corpus 100x the sf0.1 documents table (default 500k docs, ~50M
  * tokens) with PLANTED duplicate/contamination structure, then run the
  * curation funnel a pretraining pipeline actually runs — single-scan text
  * metrics, exact dedup, minhash near-dup, cross-doc duplicate spans,
  * eval-slice decontamination, mix + shard — wall-clocked per stage.
  *
  * The generator is pure Spark (one `range`, hash-derived columns, zero
  * driver loops) and deterministic: every token is a function of the
  * document's content seed via `xxhash64`, so re-runs are bit-identical
  * and the analysis block doubles as a cross-run regression pin.
  *
  * Planted structure (all rates structural, not random, so miniature runs
  * in the spec still exercise every stage):
  *  - exact duplicates: id ≡ 1 (mod 37) copies id-1's text verbatim
  *    (consecutive ids can't both be ≡ 1 mod 37, so the copy source is
  *    always an original);
  *  - near duplicates: id ≡ 1 (mod 41) copies its predecessor's text with
  *    ONE substituted token (2 changed bigram shingles out of ~n — well
  *    above the 0.5 Jaccard verify floor); the base skips back one extra
  *    id when the predecessor is itself an exact-dup copy;
  *  - eval slice: id ≡ 7 (mod 200) — the stand-in benchmark suite;
  *  - contamination: id ≡ 9 (mod 53) (and not itself eval) carries the
  *    nearest eval doc's first 10 tokens at positions 20-29 => 5 shared
  *    6-grams for d10 to find;
  *  - languages 5-way skewed (en-heavy) from the content seed, so exact
  *    dups land in their source's language; sources uniform over 20.
  */
object CorpusRehearsal {

  /** The synthetic corpus plan (no jobs here): doc_id, lang, source, text.
    *
    * `hotCopies` > 1 plants a MEGA-DUPLICATE: documents 0 until
    * hotCopies all carry doc 0's text verbatim — the boilerplate/
    * template page a real crawl contains tens of thousands of times.
    * This is the classic LSH failure mode: all copies share every band
    * key, so a minhash-first plan generates C(hotCopies, 2) candidate
    * pairs from that one bucket (1.25e9 pairs at 50k copies). The
    * funnel's exact-dedup-FIRST ordering (x6's ordering) is what
    * contains it: one digest group, one canonical survivor, and the
    * band join never sees the clones.
    */
  def synthesize(spark: SparkSession, nDocs: Long, hotCopies: Long = 1): DataFrame = {
    require(nDocs > 0, s"nDocs must be positive, got $nDocs")
    require(hotCopies >= 1 && hotCopies <= nDocs,
      s"hotCopies must be in [1, $nDocs], got $hotCopies")
    val id = col("id")
    // content seed: exact dups copy id-1; near-dups copy id-1 (or id-2
    // when id-1 is an exact-dup copy, so the near-dup tracks the text
    // its predecessor actually carries)
    val nearBase = when(pmod(id - 1, lit(37)) === 1, id - 2).otherwise(id - 1)
    val seed = when(id < hotCopies, lit(0L))
      .when(pmod(id, lit(41)) === 1 && id > 1, nearBase)
      .when(pmod(id, lit(37)) === 1 && id > 0, id - 1)
      .otherwise(id)
    val isNear = id >= hotCopies && pmod(id, lit(41)) === 1 && id > 1
    val isEval = pmod(id, lit(200)) === 7
    val isCont = id >= hotCopies && pmod(id, lit(53)) === 9 && !isEval
    val evalSeed = (id - pmod(id, lit(200))) + 7

    // language derives from the CONTENT SEED (so a copy shares its
    // source's language, and injected eval tokens — built from the eval
    // doc's seed — reproduce the eval doc's own token strings exactly)
    def langOf(s: Column): Column = {
      val lr = pmod(xxhash64(lit(1), s), lit(20))
      when(lr < 9, "en").when(lr < 12, "es")
        .when(lr < 15, "de").when(lr < 18, "fr").otherwise("zh")
    }
    val nTok = (pmod(xxhash64(lit(2), col("seed")), lit(80)) + 60).cast("int")
    // one substituted token per near-dup, inside every doc's range
    val subPos = pmod(xxhash64(lit(3), id), lit(50)) + 5

    def tok(seedCol: Column, i: Column): Column =
      concat(langOf(seedCol), lit("w"),
        pmod(xxhash64(lit(4), seedCol, i), lit(3000)))

    spark.range(nDocs)
      .withColumn("seed", seed)
      .withColumn("source", concat(lit("src"), pmod(xxhash64(lit(5), id), lit(20))))
      .withColumn("text", array_join(
        transform(sequence(lit(0), nTok - 1), i =>
          when(isCont && i.between(20, 29), tok(evalSeed, i - 20))
            .when(isNear && i === subPos, concat(lit("sub"), id))
            .otherwise(tok(col("seed"), i))), " "))
      .select(id.as("doc_id"), langOf(col("seed")).as("lang"),
        col("source"), col("text"))
  }

  /** The deterministic text → 32-dim integer embedding rule — ONE
    * definition shared by the materialize stage here and
    * ScalingSlopes (the cdcChunks/gramDigests one-definition
    * discipline): the scaling harness's validity claim is that its
    * corpora are shaped like the rehearsal's, which only holds while
    * both derive vectors by the same rule. Input needs (doc_id,
    * text); output is (vec_id, q) with q = 32 token-hash aggregate
    * coordinates in [-1000·|toks|, 1000·|toks|].
    */
  def embedQ(docs: DataFrame): DataFrame = docs
    .select(col("doc_id").as("vec_id"),
      expr("transform(filter(split(text, ' '), x -> x != ''), " +
        "t -> xxhash64(t))").as("hs"))
    .select(col("vec_id"),
      expr("transform(sequence(0, 31), j -> aggregate(" +
        "hs, 0L, (acc, h) -> acc + pmod(xxhash64(j, h), 2001) - 1000))")
        .as("q"))

  /** Runs the staged funnel against a materialized corpus; returns
    * ((stage, wall, process CPU, executor CPU seconds) per stage
    * ([[Probe.StageTimer]]), analysis counts as Locale-ROOT numeric strings).
    *
    * Stage ORDER is load-bearing: exact dedup runs BEFORE minhash (x6's
    * ordering), so a mega-duplicate (`hotCopies`) collapses to one
    * canonical doc ahead of the band join — minhash-first would place
    * all clones in the same buckets and generate C(hotCopies, 2)
    * candidates. The d9-shaped dup-span stage deliberately still runs
    * on the RAW corpus: its digest WINDOW (count per partition) absorbs
    * a 50k-row hot digest linearly, demonstrating which sketch shapes
    * survive mega-dups without the dedup prefix and which don't.
    */
  def run(spark: SparkSession, nDocs: Long, dir: String, hotCopies: Long = 1)
      : (Seq[(String, Double, Double, Double)], Seq[(String, String)]) = {
    graft.functions.GraftExtensions.registerInto(spark)
    val stage = new Probe.StageTimer(spark)
    val stats = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def put(k: String, v: Long): Unit = stats += k -> v.toString
    // the benchmark suite never contains the boilerplate clone block
    def isEval = col("doc_id") % 200 === 7 && col("doc_id") >= hotCopies

    // the ETL boundary: generation cost stays out of the operator stages,
    // like the lifecycle rehearsal's etl_materialize. The embedding
    // column is part of the stored corpus too — a real pipeline embeds
    // once at ingest and semantic dedup reads the stored vectors
    // (r15 audit: at 500k docs the deterministic embedding
    // derivation is 62 s while the operator's assignment + pair scan is
    // ~10-15 s — timing synthesis inside the stage would measure the
    // generator, the m-family payload lesson again).
    stage("materialize") {
      synthesize(spark, nDocs, hotCopies)
        .write.mode("overwrite").parquet(s"$dir/documents")
      embedQ(spark.read.parquet(s"$dir/documents"))
        .withColumn("nn",
          expr("long_dot(q, q)"))
        .write.mode("overwrite").parquet(s"$dir/embeddings")
    }
    val docs = spark.read.parquet(s"$dir/documents")
    val toks = filter(split(col("text"), " "), x => x =!= "")

    // T-family: one scan, one rollup — doc/token/chunk totals
    stage("text_metrics") {
      val r = docs
        .select(size(toks).as("n"))
        .withColumn("ck", expr("(greatest(n - 64, 0) + 47) div 48 + 1"))
        .agg(count(lit(1)), sum(col("n").cast("long")), sum(col("ck").cast("long")))
        .collect()(0)
      put("n_docs", r.getLong(0)); put("n_tokens", r.getLong(1))
      put("n_chunks", r.getLong(2))
    }

    // D1: digest-keyed exact dedup; canonical survivors (keep-min window,
    // x6's single-shuffle shape) materialized for every later stage
    stage("exact_dedup") {
      docs
        .withColumn("h", md5(col("text")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"))))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("lang"), size(toks).as("n"))
        .write.mode("overwrite").parquet(s"$dir/canonical")
      val groups = spark.read.parquet(s"$dir/canonical").count()
      put("n_exact_groups", groups)
      put("n_exact_copies", nDocs - groups)
    }
    val canonical = spark.read.parquet(s"$dir/canonical")

    // D2: minhash near-dup over the exact-dedup SURVIVORS (the ordering
    // that contains mega-dup buckets); drop list materialized for the
    // funnel stage (id2 of every verified pair)
    stage("minhash_neardup") {
      val sig = graft.operators.PipelineOps
        .minhashSignatures(docs.select(col("doc_id"), col("text"))
          .join(canonical.select(col("doc_id")), Seq("doc_id"), "left_semi"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      put("n_sig_docs", sig.count())
      val pairs = graft.operators.PipelineOps.nearDupPairs(sig, sig, 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      put("n_neardup_pairs", pairs.count())
      pairs.select(col("id2").as("doc_id")).distinct()
        .write.mode("overwrite").parquet(s"$dir/neardup_drop")
      pairs.unpersist(blocking = true): Unit
      sig.unpersist(blocking = true): Unit
    }

    // D13: SemDeDup over the canonical survivors — the embedding-space
    // near-dup detector run COMPLEMENTARY to minhash on the same input.
    // Embeddings are deterministic bag-of-words random projections: 32
    // dims, every coordinate an exact integer sum of per-token xxhash64
    // contributions in [-1000, 1000], so exact copies map to identical
    // vectors (already collapsed upstream) and a one-token near-dup
    // moves each coordinate by at most 2001 against a ~60-140-token
    // signal — pair cosine stays >= ~0.94, while random same-cluster
    // pairs sit at |cos| ~ 1/sqrt(32) ≈ 0.18. tau = 0.9 therefore
    // catches the planted mod-41 law through BOTH detectors (minus the
    // boundary cases where the near pair straddles two clusters —
    // SemDeDup's documented recall model) plus organically similar
    // token mixes. K ≈ 512 clusters via the d7 stride pattern.
    stage("semantic_dedup") {
      // reads the STORED embedding column (written at materialize) and
      // prunes the canonical survivors — the stage times the operator
      // (assignment + pair scan), not the embedding generator. Persisted
      // because the quantized frame has four consumers inside semDedup
      // (centroid filter, both assignment sides, members).
      val emb = spark.read.parquet(s"$dir/embeddings")
        .join(canonical.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val survivors = graft.operators.PipelineOps
        .semDedup(emb, math.max(50L, nDocs / 512L), 0.9, "corpus_sem_members", dir)
        .count()
      val nCanonical = canonical.count()
      emb.unpersist(blocking = true): Unit
      put("n_sem_survivors", survivors)
      put("n_sem_dropped", nCanonical - survivors)
    }

    // D9: cross-document duplicated 6-gram coverage (digests only)
    stage("dup_spans") {
      val g = docs
        .select(col("doc_id"), explode(expr("hashed_ngrams(filter(split(text, ' '), x -> x != ''), 6)")).as("h"))
        .groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("c"))
      val r = g
        .withColumn("dw", count(lit(1)).over(Window.partitionBy(col("h"))))
        .filter(col("dw") > 1)
        .agg(countDistinct(col("doc_id")), sum(col("c")))
        .collect()(0)
      put("n_docs_with_dup_spans", r.getLong(0))
      put("n_dup_gram_positions", if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // D10: eval-overlap decontamination (the single-derivation window
    // plan); contaminated ids materialized for the funnel stage
    stage("decontaminate") {
      val cont = docs
        .select(col("doc_id"), explode(expr("hashed_ngrams(filter(split(text, ' '), x -> x != ''), 6)")).as("h"))
        .dropDuplicates("doc_id", "h")
        .withColumn("ev",
          max(when(isEval, 1).otherwise(0))
            .over(Window.partitionBy(col("h"))))
        .filter(!isEval && col("ev") === 1)
        .select(col("doc_id")).distinct()
      cont.write.mode("overwrite").parquet(s"$dir/contaminated")
      put("n_contaminated", spark.read.parquet(s"$dir/contaminated").count())
    }

    // D21 at corpus scale — the broadcast-bloom decontamination the
    // digest-window stage above replaces at 100 TB: the eval grams
    // become an m-bit Bloom filter stored as a (word_idx -> 64-bit
    // word) frame (m/64 rows, ~4 MB) built with ONE small shuffle over
    // eval positions; the corpus probe is three broadcast word lookups
    // per gram (Kirsch-Mitzenmacher k=3) — map-side, O(1) each, zero
    // gram-shaped shuffles; only the per-doc flag aggregate shuffles,
    // keyed by doc. m = 2^25 sizes the filter to ~2% fill for the
    // ~240k eval grams, so doc-level false positives exist but stay
    // rare — both counts are reported against the exact stage's
    // output (bloom ⊇ exact is structural; the delta IS the price of
    // never shuffling the corpus gram stream).
    stage("decontaminate_bloom") {
      val M = 1L << 25
      val g = docs
        .select(col("doc_id"), explode(expr(
          "array_distinct(hashed_ngrams(filter(split(text, ' '), x -> x != ''), 6))"))
          .as("dg"))
        .withColumn("ps", expr(
          s"transform(sequence(0, 2), j -> pmod(pmod(dg, $M) + j * (1 + pmod(dg div $M, ${M - 1})), $M))"))
      val words = g.filter(isEval)
        .select(explode(col("ps")).as("p")).distinct()
        .select(expr("p div 64").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))").as("m1"))
        .groupBy(col("w")).agg(expr("bit_or(m1)").as("word"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nWords = words.count() // materialize once; also a stat below
      def look(j: Int) = {
        val wj = words.select(col("w").as(s"w$j"), col("word").as(s"word$j"))
        (probe: DataFrame) => probe
          .withColumn(s"w$j", expr(s"ps[$j] div 64"))
          .join(broadcast(wj), Seq(s"w$j"), "left")
          .withColumn(s"hit$j", coalesce(
            expr(s"shiftright(word$j, CAST(pmod(ps[$j], 64) AS INT)) & 1"), lit(0L)))
      }
      val probed = look(2)(look(1)(look(0)(g.filter(!isEval))))
        .withColumn("ghit", col("hit0") * col("hit1") * col("hit2"))
        .groupBy(col("doc_id"))
        .agg(max(col("ghit")).as("bloom_flag"))
        .filter(col("bloom_flag") === 1)
        .select(col("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nBloom = probed.count()
      val exact = spark.read.parquet(s"$dir/contaminated")
      val bloomOnly = probed.join(exact, Seq("doc_id"), "left_anti").count()
      val missed = exact.join(probed, Seq("doc_id"), "left_anti").count()
      probed.unpersist(); words.unpersist(): Unit
      put("n_bloom_flagged", nBloom)
      put("n_bloom_false_pos_docs", bloomOnly)
      put("n_bloom_missed_docs", missed) // MUST be 0: blooms have no false negatives
      put("n_bloom_words", nWords)
    }

    // X8 tail: survivors -> uniform-lang quota sample -> 16-way shard
    stage("mix_shard") {
      val P = 1000000007L
      val dropNear = spark.read.parquet(s"$dir/neardup_drop")
      val cont = spark.read.parquet(s"$dir/contaminated")
      val clean = canonical
        .filter(!isEval)
        .join(dropNear, Seq("doc_id"), "left_anti")
        .join(cont, Seq("doc_id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts = clean.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      val quota = counts.agg(min(col("cnt")).as("quota"))
      val sampled = clean
        .withColumn("sh", ((col("doc_id") % P) * 2654435761L + 2246822519L) % P)
        .join(broadcast(counts), Seq("lang"))
        .crossJoin(broadcast(quota))
        .filter(col("sh") * col("cnt") < col("quota") * P)
        .withColumn("shard_id", col("sh") % 16)
      val r = sampled
        .groupBy(col("shard_id")).agg(count(lit(1)).as("c"), sum(col("n")).as("t"))
        .agg(count(lit(1)), sum(col("c")), min(col("c")), max(col("c")),
          sum(col("t")))
        .collect()(0)
      put("n_clean", clean.count())
      clean.unpersist(blocking = true): Unit
      put("n_shards", r.getLong(0)); put("n_sampled", r.getLong(1))
      put("min_shard_docs", r.getLong(2)); put("max_shard_docs", r.getLong(3))
      put("sampled_tokens", r.getLong(4))
    }

    // T11: surprisal banding over the canonical survivors — the CCNet
    // quality gate at corpus scale (vocab build + join-back + per-doc
    // fold; the heavy-hitter join is the stage's point). The synthetic
    // vocabulary is nearly uniform (~15k tokens at ~equal counts =>
    // every token ~14 bits), so the BAND distribution is degenerate by
    // design — the stage pins the quantized mean-surprisal moments and
    // times the machinery; band movement is t11's planted-spec job.
    stage("surprisal_band") {
      val ctoks = docs
        .join(canonical.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), explode(toks).as("tok"))
      val vocab = ctoks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val vtot = vocab.agg(sum(col("cnt")).as("t_total"))
      // r10 finding: FIXED cuts (< 8 / 8–12 / ≥ 12 bits) banded NOTHING
      // on this corpus — the near-uniform synthetic vocabulary pushes
      // every doc past 12 mean bits (0/0/487627 head/mid/tail at 500k),
      // so the three-way split the mix stage rehearsed was a no-op.
      // This stage now rehearses t11b_quantile_bands' EXACT rule:
      // integer milli-bit surprisal (mb = bits_sum·1000 div n_toks),
      // tercile thresholds = smallest mb with 3·cum ≥ n (resp. ≥ 2n) on
      // the mb-domain cumulative histogram, bands INCLUSIVE (mb ≤ lo is
      // head). Inclusive matters on real distributions: this corpus
      // carries a mass atom at exactly 13.000 bits == the minimum, so a
      // strict `< lo` head reads 0 no matter where the quantile lands —
      // the first calibrated cut (approx_percentile + exclusive bands)
      // measured exactly that. Quantile thresholds + atom-inclusive
      // banding split ANY corpus shape with head ≥ n/3 by construction.
      val per = ctoks.join(vocab, Seq("tok"))
        .crossJoin(broadcast(vtot))
        .withColumn("b", length(conv(expr("t_total div cnt"), 10, 2)).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), sum(col("b")).as("bits_sum"))
        .withColumn("mb", expr("bits_sum * 1000 div n_toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hist = per.groupBy(col("mb")).agg(count(lit(1)).as("c"))
      val thr = hist
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("mb"))))
        .crossJoin(broadcast(hist.agg(sum(col("c")).as("n"))))
        .agg(min(when(col("cum") * 3 >= col("n"), col("mb"))).as("lo"),
          min(when(col("cum") * 3 >= col("n") * 2, col("mb"))).as("hi"))
        .collect()(0)
      val (lo, hi) = (thr.getLong(0), thr.getLong(1))
      val r = per.agg(count(lit(1)),
          sum(when(col("mb") <= lo, 1L).otherwise(0L)),
          sum(when(col("mb") > lo && col("mb") <= hi, 1L).otherwise(0L)),
          sum(when(col("mb") > hi, 1L).otherwise(0L)),
          min(col("mb")), max(col("mb")))
        .collect()(0)
      per.unpersist(blocking = true): Unit
      put("n_banded_docs", r.getLong(0)); put("n_band_head", r.getLong(1))
      put("n_band_middle", r.getLong(2)); put("n_band_tail", r.getLong(3))
      put("min_mean_bits_milli", r.getLong(4))
      put("max_mean_bits_milli", r.getLong(5))
      put("band_lo_milli", lo)
      put("band_hi_milli", hi)
    }

    // T10: temperature dealing (q_l ∝ sqrt n_l) on the same clean
    // survivors the quota sampler consumed — the UPSAMPLING mix, where
    // the en-heavy skew means tail langs ship multiple copies. Rebuilds
    // clean from the materialized drop lists (two anti joins — cheap,
    // and keeps the stage self-contained after mix_shard unpersists).
    stage("temperature_mix") {
      val P = 1000000007L
      val dropNear = spark.read.parquet(s"$dir/neardup_drop")
      val cont = spark.read.parquet(s"$dir/contaminated")
      val clean = canonical.filter(!isEval)
        .join(dropNear, Seq("doc_id"), "left_anti")
        .join(cont, Seq("doc_id"), "left_anti")
      val counts = clean.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      val weights = counts.withColumn("wq",
        floor(sqrt(col("cnt").cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
      val wtot = weights.agg(sum(col("cnt")).as("nn"), sum(col("wq")).as("wsum"))
      val targets = weights.crossJoin(broadcast(wtot))
        .withColumn("target", expr("nn * wq div wsum"))
        .select(col("lang"), col("cnt"), col("target"))
      val dealt = clean
        .withColumn("h", ((col("doc_id") % P) * 2654435761L + 2246822519L) % P)
        .join(broadcast(targets), Seq("lang"))
        .withColumn("copies", expr("target div cnt") +
          when(expr("h % cnt") < expr("target % cnt"), 1L).otherwise(0L))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // movement pins: the en-heavy skew means SOME doc ships >= 2
      // copies (tail-lang upsample) and some en docs ship 0 (the
      // remainder deal) even though Σ copies ≈ n_clean by construction
      val d = dealt.agg(max(col("copies")),
        sum(when(col("copies") === 0, 1L).otherwise(0L))).collect()(0)
      put("max_doc_copies", d.getLong(0)); put("n_mix_dropped", d.getLong(1))
      val r = dealt
        .filter(col("copies") >= 1)
        .withColumn("copy_idx", explode(sequence(lit(1L), col("copies"))))
        .withColumn("shard_id", (col("h") + col("copy_idx")) % 16)
        .groupBy(col("shard_id")).agg(count(lit(1)).as("c"), sum(col("n")).as("t"))
        .agg(sum(col("c")), min(col("c")), max(col("c")), sum(col("t")))
        .collect()(0)
      dealt.unpersist(blocking = true): Unit
      put("n_mix_rows", r.getLong(0)); put("min_mix_shard_docs", r.getLong(1))
      put("max_mix_shard_docs", r.getLong(2)); put("mix_tokens", r.getLong(3))
    }

    // T14: the hashed linear classifier over the canonical survivors —
    // ZERO shuffles: one scan, md5 feature hashing + the codegen weight
    // fold per row, a scalar rollup. The stage measures what the
    // model-filter costs at corpus scale when the weights are in closed
    // form (a real fastText table adds a broadcast lookup, same shape).
    stage("classifier_gate") {
      val r = graft.operators.PipelineOps.classifierScore(
          docs.join(canonical.select(col("doc_id")), Seq("doc_id"), "left_semi"))
        .agg(count(lit(1)), sum(col("keep_flag").cast("long")),
          min(col("logit")), max(col("logit")))
        .collect()(0)
      put("n_clf_docs", r.getLong(0)); put("n_clf_kept", r.getLong(1))
      put("min_clf_logit", r.getLong(2)); put("max_clf_logit", r.getLong(3))
    }

    // D14: DSIR importance selection with the eval slice as the target
    // domain (select the candidates that LOOK like the benchmark
    // domain): one token-keyed shuffle derives BOTH Laplace-smoothed
    // LMs, one join back, one doc-keyed fold, then a TakeOrdered top-k.
    // The planted eval-gram law (id ≡ 9 mod 53 copies an eval doc's
    // 10-token prefix) gives the gram sharers real target tokens, so
    // their bit-score delta is structurally higher — pinned below.
    stage("dsir_select") {
      val cand = docs
        .join(canonical.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .filter(!isEval)
        .select(col("doc_id"), explode(toks).as("tok"), lit(0L).as("ev"))
      val tgt = docs.filter(isEval)
        .select(col("doc_id"), explode(toks).as("tok"), lit(1L).as("ev"))
      val all = cand.unionByName(tgt)
      val vocab = all.groupBy(col("tok")).agg(
        sum(col("ev")).as("cnt_t"), sum(lit(1L) - col("ev")).as("cnt_r"))
      val tot = vocab.agg(sum(col("cnt_t")).as("tt"),
        sum(col("cnt_r")).as("tr"), count(lit(1)).as("v"))
      val delta = vocab.crossJoin(broadcast(tot))
        .withColumn("bits_t",
          length(conv(expr("(tt + v) div (cnt_t + 1)"), 10, 2)).cast("long"))
        .withColumn("bits_r",
          length(conv(expr("(tr + v) div (cnt_r + 1)"), 10, 2)).cast("long"))
        .select(col("tok"), (col("bits_r") - col("bits_t")).as("delta"))
      val k = math.max(100L, nDocs / 50L)
      // LENGTH-NORMALIZED score (fixed-point mean delta, (Σ·1e6) div n):
      // the raw sum is dominated by document length on a near-uniform
      // vocabulary, and the per-token mean is the ratio DSIR actually
      // estimates. Two deterministic reads are pinned: (a) the top-k
      // selection itself — on this generator it surfaces the rarest RAW
      // language (the -log p_raw channel dominates when the target LM is
      // thin: textbook DSIR with a weak target), and (b) the planted
      // eval-gram sharers' cross-multiplied mean-score enrichment, which
      // proves the log p_target channel moves the score even where it
      // can't win the top-k.
      val scored = all.filter(col("ev") === 0)
        .join(delta, Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(expr("sum(delta) * 1000000L div count(1)").as("score"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val r = scored
        .orderBy(col("score").desc, col("doc_id")).limit(k.toInt)
        .agg(count(lit(1)), min(col("score")), max(col("score")),
          sum(when(col("doc_id") % 53 === 9, 1L).otherwise(0L)))
        .collect()(0)
      val e = scored.agg(
        sum(col("score")), count(lit(1)),
        sum(when(col("doc_id") % 53 === 9, col("score")).otherwise(0L)),
        sum(when(col("doc_id") % 53 === 9, 1L).otherwise(0L)))
        .collect()(0)
      scored.unpersist(blocking = true): Unit
      put("n_dsir_selected", r.getLong(0))
      put("min_dsir_score", r.getLong(1)); put("max_dsir_score", r.getLong(2))
      put("n_dsir_gram_sharers", r.getLong(3))
      put("sum_dsir_all_score", e.getLong(0)); put("n_dsir_cand", e.getLong(1))
      put("sum_dsir_sharer_score", e.getLong(2))
      put("n_dsir_sharers_pool", e.getLong(3))
    }

    // X16: per-shard dataset card at corpus scale — SKETCH-ONLY (the
    // production read; the exact legs live in the oracled query, not
    // here): one scan over the canonical survivors + constant-size
    // keyed aggregates (≤16 HDR cells/octave/shard, ≤64 HLL registers/
    // shard). Hashes are xxhash64 (the rehearsal is self-contained;
    // oracle portability is the query surface's concern), so the stage
    // times the aggregate shapes, not md5.
    stage("data_card") {
      val base = docs
        .join(canonical.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), toks.as("ts"))
        .withColumn("shard", pmod(xxhash64(lit(6), col("doc_id")), lit(16)))
        .withColumn("v", size(col("ts")).cast("long"))
      val hist = graft.operators.Hdr.withBuckets(base.filter(col("v") >= 1))
        .groupBy(col("shard"), col("e"), col("m"), col("pw"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("lo", graft.operators.Hdr.loExpr)
        .groupBy(col("shard"))
        .agg(sort_array(collect_list(struct(col("e"), col("m"), col("lo"),
          col("cnt")))).as("hist"),
          sum(col("cnt")).as("nq"))
      val quants = hist.select(col("shard"),
        graft.operators.Hdr.quantileLo(500L, "p50"),
        graft.operators.Hdr.quantileLo(950L, "p95"))
      val hll = base.select(col("shard"), explode(col("ts")).as("tok"))
        .withColumn("h",
          pmod(xxhash64(lit(7), col("tok")), lit(1152921504606846976L)))
        .groupBy(col("shard"), graft.operators.Hll.jExpr().as("j"))
        .agg(max(graft.operators.Hll.rhoExpr()).as("reg"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_present"),
          sum(graft.operators.Hll.termExpr()).as("s_present"))
        .select(col("shard"), (lit(64L) - col("n_present")).as("v_zero"),
          graft.operators.Hll.sScaledFromPresent().as("s_scaled"))
      val r = quants.join(hll, Seq("shard"))
        .agg(count(lit(1)), min(col("p50")), max(col("p50")),
          min(col("p95")), max(col("p95")),
          min(col("s_scaled")), max(col("s_scaled")), sum(col("v_zero")))
        .collect()(0)
      put("n_card_shards", r.getLong(0))
      put("min_card_p50", r.getLong(1)); put("max_card_p50", r.getLong(2))
      put("min_card_p95", r.getLong(3)); put("max_card_p95", r.getLong(4))
      put("min_card_s_scaled", r.getLong(5)); put("max_card_s_scaled", r.getLong(6))
      put("sum_card_v_zero", r.getLong(7))
    }

    // D23: KMV/theta cross-source overlap at corpus scale — sketch-only
    // for the same reason: per source, the 64 smallest distinct gram
    // hashes via BottomK (map-side combine ships ≤ 64 longs per source
    // per partition), then the 190-pair theta-cut comparison on a
    // 20-row frame. The exact (source, gram) legs the oracled query
    // carries would be a real shuffle here — which is the point: this
    // stage demonstrates the sketch path a 100 TB overlap read takes.
    // Cross-source shared grams exist by construction (exact/near-dup
    // clones keep their seed's text but draw a fresh source; eval
    // windows are injected across sources).
    stage("kmv_overlap") {
      val TH = 1152921504606846976L
      val grams = docs
        .join(canonical.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("source"), toks.as("ts"))
        .select(col("source"), explode(expr(
          """IF(size(ts) < 6, CAST(array() AS ARRAY<STRING>),
            |   array_distinct(transform(sequence(1, size(ts) - 5),
            |     i -> array_join(slice(ts, i, 6), ' '))))""".stripMargin)).as("g"))
        .select(col("source"),
          pmod(xxhash64(lit(8), col("g")), lit(TH)).as("h"))
      val sk = grams.groupBy(col("source"))
        .agg(graft.functions.BottomK.udaf(64)(col("h")).as("ks"))
        .withColumn("theta_x",
          expr(s"IF(size(ks) < 64, CAST($TH AS BIGINT), element_at(ks, -1))"))
      val r = sk.select(col("source").as("sa"), col("ks").as("ka"),
          col("theta_x").as("ta"))
        .join(broadcast(sk.select(col("source").as("sb"), col("ks").as("kb"),
          col("theta_x").as("tb"))), col("sa") < col("sb"))
        .withColumn("theta", least(col("ta"), col("tb")))
        .withColumn("nc", size(expr(
          "array_intersect(filter(ka, x -> x < theta), filter(kb, x -> x < theta))"))
          .cast("long"))
        .withColumn("nu", size(expr(
          "array_union(filter(ka, x -> x < theta), filter(kb, x -> x < theta))"))
          .cast("long"))
        .withColumn("est",
          expr("IF(nu = 0, CAST(0 AS BIGINT), (1000 * nc) div nu)"))
        .agg(count(lit(1)), min(col("est")), max(col("est")),
          sum(when(col("nc") > 0, 1L).otherwise(0L)))
        .collect()(0)
      put("n_kmv_pairs", r.getLong(0))
      put("min_kmv_est", r.getLong(1)); put("max_kmv_est", r.getLong(2))
      put("n_kmv_overlapping", r.getLong(3))
    }

    // D15: BM25 retrieval at corpus scale — queries = the first eval
    // docs (bounded workload), corpus = the canonical non-eval
    // survivors. One term-keyed shuffle builds tf/df/dl; the qterms ×
    // postings join is the candidate generator (its fan-out is the
    // per-term posting length — the near-uniform synthetic vocabulary
    // makes every posting ~N/|V|, the WAND-free worst case, which is
    // exactly what the stage should time).
    // shared lexical-postings builder for the BM25 AND hybrid stages —
    // returns (qterms, post, dfr, tot); pruning drops the hottest (least
    // discriminative, idf→1) posting lists BEFORE the candidate join
    def lexPostings(maxDfPpm: Option[Long])
        : (DataFrame, DataFrame, DataFrame, DataFrame) = {
      val train = docs
        .join(canonical.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .filter(!isEval)
        .select(col("doc_id"), explode(toks).as("term"))
      val tf = train.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dl = train.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val tot = dl.agg(sum(col("dl")).as("big_l"), count(lit(1)).as("nd"))
      // first ~100 eval docs as the bounded query workload — offset past
      // the clone block (eval ids start at hotCopies under a hot corpus)
      val qterms = docs.filter(isEval && col("doc_id") < lit(hotCopies + 20000L))
        .select(col("doc_id").as("qdoc"), explode(toks).as("term")).distinct()
      val joined = tf.join(dl, "doc_id").join(dfr, "term")
        .crossJoin(broadcast(tot))
      // hot-term pruning (graft.bm25.maxDfFrac's rule): drop postings for
      // terms with df above frac·Nd BEFORE the candidate-generating join —
      // the per-term fan-out is the posting length, so the hottest (least
      // discriminative, idf→1) terms are the expensive ones
      val kept = maxDfPpm.fold(joined)(ppm =>
        joined.filter(col("df") * lit(1000000L) <= lit(ppm) * col("nd")))
      val post = kept
        .withColumn("idf", length(conv(expr("nd div df"), 10, 2)).cast("long"))
        .withColumn("contrib", floor(
          expr("CAST(idf * tf * 44 * big_l AS DOUBLE) / " +
            "(20 * big_l * tf + 6 * big_l + 18 * dl * nd)") *
            lit(1000000) + lit(0.5)).cast("long"))
        .select(col("term"), col("doc_id"), col("contrib"))
      (qterms, post, dfr, tot)
    }
    def bm25Retrieve(tag: String, maxDfPpm: Option[Long]): Unit = {
      val (qterms, post, dfr, tot) = lexPostings(maxDfPpm)
      // ONLY the retrieval itself is timed — the diagnostic metric jobs
      // below run outside the stage block, so this stage's wall-clock
      // stays comparable with every pre-r9 rehearsal artifact
      val sfx = if (maxDfPpm.isEmpty) "" else "_pruned"
      stage(tag) {
        val top = qterms.join(post, Seq("term"))
          .groupBy(col("qdoc"), col("doc_id"))
          .agg(sum(col("contrib")).as("score"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("qdoc"))
              .orderBy(col("score").desc, col("doc_id"))))
          .filter(col("rk") <= 5)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val r = top.agg(count(lit(1)), countDistinct(col("qdoc")),
          coalesce(sum(when(col("rk") === 1, col("score"))), lit(0L)),
          coalesce(max(col("score")), lit(0L))).collect()(0)
        top.unpersist(blocking = true): Unit
        put(s"n_bm25_hits$sfx", r.getLong(0)); put(s"n_bm25_queries$sfx", r.getLong(1))
        put(s"sum_bm25_top1$sfx", r.getLong(2)); put(s"max_bm25_score$sfx", r.getLong(3))
      }
      // the DETERMINISTIC work metric this host's noise can't blur: the
      // candidate generator emits exactly Σ_term qf·df pairs, computable
      // from the per-term frames without running the join — pruning's
      // effect at 100 TB is this number, not a local wall-clock delta.
      // Untimed by design (a second tokenize/tf/df pass).
      val dfKept = maxDfPpm.fold(dfr)(ppm =>
        dfr.crossJoin(broadcast(tot))
          .filter(col("df") * lit(1000000L) <= lit(ppm) * col("nd"))
          .select(col("term"), col("df")))
      val pairs = qterms.join(dfKept, Seq("term"))
        .agg(coalesce(sum(col("df")), lit(0L))).collect()(0).getLong(0)
      put(s"n_bm25_cand_pairs$sfx", pairs)
      maxDfPpm.foreach { ppm =>
        val pruned = dfr.crossJoin(broadcast(tot))
          .filter(col("df") * lit(1000000L) > lit(ppm) * col("nd"))
          .agg(coalesce(count(lit(1)), lit(0L)),
            coalesce(sum(col("df")), lit(0L))).collect()(0)
        put("n_bm25_pruned_terms", pruned.getLong(0))
        put("n_bm25_pruned_postings", pruned.getLong(1))
      }
    }
    bm25Retrieve("bm25_retrieve", None)
    // pruned variant at 1% — on this corpus that drops the majority
    // language's terms (en df ≈ 1.5% of Nd; es/de/fr ≈ 0.5%, zh ≈ 0.33%),
    // i.e. the hottest ~45% of postings volume, which is the stage's
    // whole candidate-generation cost for en queries
    bm25Retrieve("bm25_retrieve_pruned", Some(10000L))

    // X12/X12b at corpus scale: RRF fusion (k = 60, integer-exact) of
    // the BM25 top-5 and the dense-cosine top-5 over the STORED
    // embeddings (bounded query side broadcast, d5's posture). The two
    // variants share the dense leg and the query workload, so their
    // wall-clock delta is exactly the lexical candidate fan-out the
    // df-cap pruning removes — the fused-retrieval speedup x12b ships.
    def hybridRetrieve(tag: String, maxDfPpm: Option[Long],
        denseIvf: Boolean = false, sfxOverride: Option[String] = None): Unit = {
      val (qterms, post, _, _) = lexPostings(maxDfPpm)
      val sfx = sfxOverride.getOrElse(
        if (denseIvf) "_ivf" else if (maxDfPpm.isEmpty) "" else "_pruned")
      stage(tag) {
        val lex = qterms.join(post, Seq("term"))
          .groupBy(col("qdoc"), col("doc_id"))
          .agg(sum(col("contrib")).as("score"))
          .withColumn("lex_rk", row_number().over(
            Window.partitionBy(col("qdoc"))
              .orderBy(col("score").desc, col("doc_id"))))
          .filter(col("lex_rk") <= 5)
          .select(col("qdoc"), col("doc_id"), col("lex_rk"))
        val emb = spark.read.parquet(s"$dir/embeddings")
        val evalVec = col("vec_id") % 200 === 7 && col("vec_id") >= hotCopies
        val queries = emb
          .filter(evalVec && col("vec_id") < lit(hotCopies + 20000L))
          .select(col("vec_id").as("qdoc"), col("q").as("qq"), col("nn").as("qn"))
        val corpusVecs = emb
          .join(canonical.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
          .filter(!evalVec)
        val cosExpr = expr(
          "long_dot(q, qq)")
          .cast("double") /
          sqrt(col("qn").cast("double") * col("nn").cast("double"))
        // x12c's strategy split: the exact leg is corpus × queries (the
        // measured growth term); the IVF leg swaps in d7's inverted-file
        // pruning (ivfpq_retrieve's geometry: ~128 stride-sampled lists,
        // 2-probe) so the dense candidate volume is list-bounded. The
        // lexical leg and the fusion below are IDENTICAL — the stage
        // pair's wall-clock delta is exactly the dense-leg swap.
        val denseCands =
          if (!denseIvf) corpusVecs.join(broadcast(queries))
          else {
            val nVec = corpusVecs.count()
            val strideIvf = Ivf.stride(nVec, 1L, 128L)
            val cents = Ivf.centroids(corpusVecs, col("vec_id") % strideIvf === 0,
              "vec_id" -> "cid")
            val assigned = Ivf.assign(corpusVecs, Seq("vec_id"), cents, Seq("cid"))
              .select(col("vec_id"), col("cid").as("list_id"))
            val probes = Ivf.probe(
                queries.select(col("qdoc"), col("qq").as("q"), col("qn").as("nn")),
                Seq("qdoc"), cents, Seq("cid"), 2)
              .select(col("qdoc"), col("q").as("qq"), col("nn").as("qn"),
                col("cid").as("probe_list"))
            corpusVecs.join(assigned, "vec_id")
              .join(probes, col("list_id") === col("probe_list"))
              .drop("list_id", "probe_list")
          }
        val dense = denseCands
          .withColumn("cos", cosExpr)
          .withColumn("dense_rk", row_number().over(
            Window.partitionBy(col("qdoc")).orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("dense_rk") <= 5)
          .select(col("qdoc"), col("vec_id").as("doc_id"), col("dense_rk"))
        val fused = lex.join(dense, Seq("qdoc", "doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(expr("1000000 div (60 + lex_rk)"), lit(0L)) +
              coalesce(expr("1000000 div (60 + dense_rk)"), lit(0L)))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("qdoc")).orderBy(col("rrf").desc, col("doc_id"))))
          .filter(col("rk") <= 5)
        val r = fused.agg(count(lit(1)), countDistinct(col("qdoc")),
          coalesce(sum(when(col("rk") === 1, col("rrf"))), lit(0L)),
          coalesce(sum(when(col("lex_rk").isNotNull && col("dense_rk").isNotNull,
            1L)), lit(0L))).collect()(0)
        put(s"n_hybrid_hits$sfx", r.getLong(0))
        put(s"n_hybrid_queries$sfx", r.getLong(1))
        put(s"sum_hybrid_top1_rrf$sfx", r.getLong(2))
        put(s"n_hybrid_both_legs$sfx", r.getLong(3))
      }
    }
    hybridRetrieve("hybrid_retrieve", None)
    hybridRetrieve("hybrid_retrieve_pruned", Some(10000L))
    // x12c's production shape: pruned postings + IVF dense leg — the
    // stage triple decomposes the fused cost (unpruned vs pruned = the
    // lexical fan-out; pruned vs ivf = the dense candidate volume)
    hybridRetrieve("hybrid_retrieve_ivf", Some(10000L), denseIvf = true)

    // X12d at rehearsal scale (r14): run the DISPATCH itself on the
    // rehearsal's own cardinalities and execute whichever leg it picks.
    // The rehearsal's query side is BOUNDED (~100 eval vectors), so
    // |queries| × |corpus| ≈ 100 × nDocs sits far under the 1e8 default
    // at 500k docs and the route must resolve to the EXACT leg — the
    // r13 boundary analysis (IVF pays only when the query count exceeds
    // the list count), recorded as a measured artifact line instead of
    // a prose claim. The route evidence (pair product, chosen leg) goes
    // into the stats so the artifact itself shows WHY the leg was
    // picked; the decision's two counts run in their own stage so their
    // cost is visible, not smeared into the retrieval timing.
    val autoIvf = stage("hybrid_auto_route") {
      val emb = spark.read.parquet(s"$dir/embeddings")
      val evalVec = col("vec_id") % 200 === 7 && col("vec_id") >= hotCopies
      val nQ = emb.filter(evalVec && col("vec_id") < lit(hotCopies + 20000L))
        .count()
      val nC = emb
        .join(canonical.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        .filter(!evalVec).count()
      // strict parse shared with denseLegAuto: malformed conf fails
      // loudly instead of silently recording evidence for the default
      val pairCeiling = graft.operators.PipelineOps.confPosLong(
        spark, "graft.x12.maxExactDensePairs", 100000000L)
      val byteCeiling = graft.operators.PipelineOps.confPosLong(
        spark, "graft.x12.maxIvfVectorBytes", 34359738368L)
      // the rule is the SHARED denseLegRoute (r15) — this stage used to
      // re-implement only the pair clause with its own hardcoded
      // default, so the "dispatch evidence" could never route to pq
      // and would silently diverge from any future rule change
      val leg = graft.operators.PipelineOps.denseLegRoute(
        nQ, nC, pairCeiling, byteCeiling)
      val pairs = BigInt(nQ) * BigInt(nC)
      put("hybrid_auto_pairs", pairs.min(BigInt(Long.MaxValue)).toLong)
      put("hybrid_auto_leg_ivf", if (leg == "ivf") 1L else 0L)
      put("hybrid_auto_leg_pq", if (leg == "pq") 1L else 0L)
      // the rehearsal's executable stage below only has exact/ivf
      // bodies; a pq route (268M+ vectors at this geometry) must fail
      // loudly rather than record pq evidence while executing ivf
      require(leg != "pq",
        "hybrid_auto_route resolved to the pq leg; the rehearsal's " +
          "retrieve stage has no pq body — raise graft.x12.maxIvfVectorBytes " +
          "or shrink the corpus")
      leg != "exact"
    }
    hybridRetrieve("hybrid_retrieve_auto", Some(10000L), denseIvf = autoIvf,
      sfxOverride = Some("_auto"))

    // X15 at corpus scale — the IVF-PQ composition the query surface
    // oracles at sf0.1 (x15_ivf_pq), run as production evidence over the
    // stored embeddings: IVF 2-probe candidate generation (d7) + PQ-ADC
    // scoring (d16), recall@5 measured against the exact brute-force
    // ground truth on a bounded query sample — exactly how real recall
    // evals run (brute force over SAMPLED queries, the index over
    // everything). Geometry scales with the corpus: ~128 IVF lists and
    // ~64 PQ codewords per subspace via stride sampling, so the
    // assignment join (nVec × nlist sims — the build cost a production
    // index pays once, then amortizes over every query) stays linear
    // with bounded fan-out. Reads the STORED embedding frame (vectors
    // embed once at ingest, the materialize boundary).
    stage("ivfpq_retrieve") {
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val emb = spark.read.parquet(s"$dir/embeddings").persist(mem)
      val nVec = emb.count()
      val nQ = 20
      val strideIvf = Ivf.stride(nVec, 1L, 128L)
      val stridePq = Ivf.stride(nVec, 1L, 64L)
      // queries = planted NEAR-DUP docs (id % 41 == 1): their true
      // nearest neighbor is the seed doc at cos ≈ 0.99 — a GENUINE
      // neighbor. The synthetic corpus has no similarity structure
      // beyond the planted clones (fresh docs are near-orthogonal
      // 32-dim hash sums), so exact-top-5 ranks 2-5 are noise at
      // cos ≈ 0.5-0.6 and no index can "recall" noise better than
      // probes/nlist — the meaningful production metric here is
      // NN-recall@5 (is the true nearest neighbor in the index's
      // top-5), which is exactly the retrieval job embedding-based
      // curation runs (find my near-duplicate). The mean GT cosine
      // split (rank-1 vs ranks 2-5) rides the artifact to document
      // which regime each recall number measures.
      val queries = emb
        .filter(pmod(col("vec_id"), lit(41)) === 1 &&
          col("vec_id") >= hotCopies && col("vec_id") > 1)
        .orderBy(col("vec_id")).limit(nQ)
        .select(col("vec_id").as("qid"), col("q").as("qq"), col("nn").as("qn"))
      val dot = expr(
        "long_dot(q, qq)")
        .cast("double")
      val gt = emb.join(broadcast(queries), col("vec_id") =!= col("qid"))
        .withColumn("cos",
          dot / sqrt(col("qn").cast("double") * col("nn").cast("double")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id").as("eid"), col("rk"), col("cos"))
        .persist(mem)
      // IVF: stride-sampled centroids, every vector assigned to its best
      // list, queries probe their top-2 lists (d7's geometry)
      val cents = Ivf.centroids(emb, col("vec_id") % strideIvf === 0, "vec_id" -> "cid")
      val assigned = Ivf.assign(emb, Seq("vec_id"), cents, Seq("cid"))
        .select(col("vec_id"), col("cid").as("list_id"))
      val probes = Ivf.probe(
          queries.select(col("qid"), col("qq").as("q"), col("qn").as("nn")),
          Seq("qid"), cents, Seq("cid"), 2)
        .select(col("qid"), col("cid").as("probe_list"))
      val cand = probes.join(assigned,
          col("list_id") === col("probe_list") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"))
        .persist(mem) // consumed by the count AND the ADC join
      val nCand = cand.count()
      // PQ: 4 subspaces × 8 dims, stride-sampled codebooks, codes for
      // the candidate-bearing corpus, per-query ADC tables (d16's shape)
      val subs = emb.select(col("vec_id"), Ivf.subspaces("q", 4, 8).as(Seq("b", "s")))
      val book = Ivf.codebook(subs, "vec_id", col("vec_id") % stridePq === 0)
      val codes = Ivf.encode(subs, "vec_id", book)
      val adc = Ivf.distances(
        queries.select(col("qid"), Ivf.subspaces("qq", 4, 8).as(Seq("b", "s"))), "qid", book)
      val approx = cand.join(codes, "vec_id")
        .join(broadcast(adc), Seq("qid", "b", "pcid"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("qdist")).as("adist"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vec_id").as("eid"))
      // every aggregate coalesced: an nDocs/hotCopies combination that
      // leaves no near-dup query docs makes gt EMPTY, and un-coalesced
      // sums/avgs then return null — the stage must report zeros like
      // every other stage, not crash the rehearsal on a null unbox
      val r = gt
        .join(approx.withColumn("found", lit(1)), Seq("qid", "eid"), "left")
        .agg(
          count(lit(1)),                                          // nGt
          coalesce(sum(col("found")), lit(0L)),                   // hits@5
          coalesce(sum(when(col("rk") === 1, col("found"))), lit(0L)), // NN hits
          coalesce(sum(when(col("rk") === 1, 1L)), lit(0L)),      // nQ actual
          coalesce(avg(when(col("rk") === 1, col("cos"))), lit(0.0)), // NN cos
          coalesce(avg(when(col("rk") > 1, col("cos"))), lit(0.0)))   // noise cos
        .collect()(0)
      val nGt = r.getLong(0)
      val hits = r.getLong(1)
      val nnHits = r.getLong(2)
      val nQActual = r.getLong(3)
      cand.unpersist(blocking = true)
      gt.unpersist(blocking = true)
      emb.unpersist(blocking = true)
      put("n_ivfpq_queries", nQActual)
      put("n_ivf_lists", (nVec + strideIvf - 1) / strideIvf)
      put("n_ivfpq_cand", nCand)
      put("n_ivfpq_gt", nGt)
      put("n_ivfpq_hits", hits)
      put("ivfpq_recall_milli", if (nGt == 0) 0L else hits * 1000L / nGt)
      put("n_ivfpq_nn_hits", nnHits)
      put("ivfpq_nn_recall_milli",
        if (nQActual == 0) 0L else nnHits * 1000L / nQActual)
      put("ivfpq_gt_nn_cos_milli", math.round(r.getDouble(4) * 1000))
      put("ivfpq_gt_noise_cos_milli", math.round(r.getDouble(5) * 1000))
    }

    (stage.timings, stats.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.getOrElse("500000").toLong
    // second arg: mega-duplicate size (docs [0, hotCopies) all carry
    // doc 0's text — the boilerplate-page model)
    val hotCopies = args.drop(1).headOption.getOrElse("1").toLong
    val spark = Harness.session(32)
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    try {
      val (timings, stats) = run(spark, nDocs, dir, hotCopies)
      val total = timings.map(_._2).sum
      def f(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
      val analysis = stats.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      val line = s"""{"metric":"corpus_rehearsal_total","value":${f(total)},""" +
        s""""unit":"sec","n_docs":$nDocs,"hot_copies":$hotCopies,""" +
        s"""${Probe.stagesJson(timings)},"analysis":{$analysis}}"""
      Raw.stdout.println(line)
      val out = if (hotCopies > 1) "corpus_rehearsal_out_hot.json"
        else "corpus_rehearsal_out.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally {
      graft.operators.Scratch.deleteRecursively(new java.io.File(dir))
      spark.stop()
    }
  }
}
