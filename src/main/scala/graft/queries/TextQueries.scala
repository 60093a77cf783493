package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Decontam, Dedup, Drift, Graph, Histogram, Multimodal}
import graft.sources.Tables

/** LLM-data-pipeline queries over `documents.parquet`: dedup (exact,
  * MinHash-LSH, SimHash, blocked n-gram Jaccard), text analysis (tokens,
  * quality ratios, language-ID, fingerprints), and the multimodal binary
  * plumbing. Every oracle recomputes the same deterministic md5-based
  * constructions in DuckDB SQL.
  */
object TextQueries {
  // Spread the single-split documents scan before the per-row hashing
  // work every t_* query does (Tables.spread: guide §2.5; no-op once the
  // corpus has ≥ parallelism row groups).
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.loadSpread(s, d, "documents", "doc_id")

  /** Diverse-corpus fixture derived deterministically from the documents
    * table (`t_containment_diverse`): per-doc unique md5 pseudo-tokens;
    * every 20th doc appends one of `G = max(1, n/200)` shared 20-token
    * passages (template = (doc_id/20) mod G, so group size stays ~10 at
    * every corpus size); every 100th doc is mostly-passage (5 unique
    * tokens) so the directional verify has true positives. The corpus
    * count rides in as a broadcast 1-row aggregate — no driver collect —
    * and the whole construction is exact-replayable in DuckDB (md5 of
    * identical strings, 1-based substr in both engines).
    */
  private def diverseDocs(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"))
    val n = base.agg(count(lit(1)).cast("long").as("_nd"))
    base.crossJoin(broadcast(n))
      .withColumn("_tpl",
        expr("(doc_id div 20) % greatest(1, _nd div 200)"))
      .withColumn("_nu", expr("IF(doc_id % 100 = 0, 5, 40)"))
      .withColumn("_t1", expr(
        "array_join(transform(sequence(1, _nu), i -> substring(md5(" +
          "concat('u', cast(doc_id as string), '-', cast(i as string))" +
          "), 1, 8)), ' ')"))
      .withColumn("text", when(expr("doc_id % 20 = 0"),
        concat(col("_t1"), lit(" "), expr(
          "array_join(transform(sequence(1, 20), j -> substring(md5(" +
            "concat('p', cast(_tpl as string), '-', cast(j as string))" +
            "), 1, 8)), ' ')")))
        .otherwise(col("_t1")))
      .select(col("doc_id"), col("text"))
  }

  private val stop = Seq("the", "a")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: content-hash groupBy (shuffle partitioned BY the hash).
    "t_dedup_exact" -> ((s, d) =>
      Dedup.exactDupStats(docs(s, d), "doc_id", "text").orderBy(col("h"))),

    // Surviving rows after exact dedup (min-id keeper per hash).
    "t_dedup_kept" -> ((s, d) =>
      Dedup.exactDedup(docs(s, d), "doc_id", "text")
        .select(col("doc_id")).orderBy(col("doc_id"))),

    // Corpus dup-rate report — the one-row freshness line an ingest run
    // reports up (docs / distinct contents / duplicate docs / duplicate
    // share): the Dedup.dupRateFromCounts kernel over the content-hash
    // multiplicity table, shared verbatim with the streamed monitor so
    // batch and stream can never drift. One hash-partitioned grouped
    // count + one scalar aggregate; the rate is one IEEE division of
    // exact integers.
    "t_dup_rate" -> ((s, d) =>
      Dedup.dupRateFromCounts(
        Dedup.contentHashCounts(docs(s, d), "text"))),

    // The STREAMED dup-rate face under the driver's own gate —
    // documents replayed as three deterministic micro-batches through
    // DupRateStream.applyBatch (per-batch partial hash counts, the
    // exactly-once recipe), with a PartialState.compact fold between
    // batches 1 and 2, and the report read from state alone. Hash
    // counts are additive and the kernel is shared, so streamed ≡
    // batch — the oracle is t_dup_rate's VERBATIM.
    "t_dup_rate_stream" -> ((s, d) => {
      val st = Tables.freshScratchDir("duprate_stream", d)
      val docsDf = docs(s, d)
      (0 to 2).foreach { i =>
        if (i == 2) { graft.streaming.DupRateStream.compact(s, st); () }
        graft.streaming.DupRateStream.applyBatch(
          docsDf.where(pmod(col("doc_id"), lit(3)) === i),
          i.toLong, st, "text")
      }
      graft.streaming.DupRateStream.report(s, st)
    }),

    // The STREAMED maintained-Bloom membership face — the FIXED-SIZE
    // twin of the dup-rate monitor (state bounded by the pinned 4096
    // bits forever): documents with doc_id % 3 ∈ {0,1} replayed as two
    // micro-batches of bit-hit counts (the exactly-once partial
    // recipe), a PartialState.compact fold between them, then the
    // remaining third PROBED against state alone — (doc_id,
    // bloom_positive), positive iff both md5-derived bit positions are
    // set. The hash arithmetic is the dq_fingerprint_daily hex-cast
    // pattern, bit-identical in DuckDB, so the oracle replays the
    // bitmap and every verdict exactly — false positives included.
    "t_dedup_bloom_stream" -> ((s, d) => {
      val st = Tables.freshScratchDir("bloom_stream", d)
      val docsDf = docs(s, d)
      (0 to 1).foreach { i =>
        if (i == 1) { graft.streaming.BloomStream.compact(s, st); () }
        graft.streaming.BloomStream.applyBatch(
          docsDf.where(pmod(col("doc_id"), lit(3)) === i),
          i.toLong, st, "text")
      }
      graft.streaming.BloomStream.probe(s, st,
          docsDf.where(pmod(col("doc_id"), lit(3)) === 2),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Token/quality statistics — all per-row projections.
    "t_text_stats" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.stopwordRatio(col("text"), stop).as("stop_ratio"),
        TextFunctions.avgWordLen(col("text")).as("avg_word_len"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"))
        .orderBy(col("doc_id"))),

    // Tokenizer FERTILITY by language — tokens per 1 000 chars: the
    // multilingual mix-planning card (a high-fertility language costs
    // more sequence positions per byte of corpus, so epoch token
    // budgets must be priced per language, not per char — the same
    // reason mix_epoch_plan budgets tokens). ONE grouped aggregate
    // over a zero-shuffle projection; the per-kilochar rate is exact
    // integer floor division, so no float can drift between engines.
    "t_tokenizer_fertility" -> ((s, d) =>
      docs(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text"))).as("tokens"),
          sum(col("n_chars")).as("chars"))
        .select(col("lang"), col("n_docs"), col("tokens"), col("chars"),
          expr("(1000 * tokens) div chars").as("tokens_per_kchar"))
        .orderBy(col("lang"))),

    // Language-ID AMBIGUITY margin — how decisive was the char-trigram
    // vote: per doc, top score minus runner-up score (0 = dead tie =
    // route to human/model review; the margin gate every cheap
    // classifier in the curation funnel needs before its label is
    // trusted). Tie-break for "top" is (score, lang) lexicographic —
    // sort_array on (score, lang) structs here, the mirrored
    // (score DESC, lang DESC) row_number in the oracle — so the
    // per-(lang, margin) histogram can never drift on ties. Per-row
    // map-side scoring; the only shuffle is the ≤|langs|·4-row count.
    "t_langid_margin" -> ((s, d) => {
      val scored = TextFunctions.charNgramScores(col("text"))
      val sorted = sort_array(array(scored.map { case (l, c) =>
        struct(c.cast("long").as("score"), lit(l).as("lang")) }: _*))
      docs(s, d)
        .select(element_at(sorted, -1).as("top"),
          element_at(sorted, -2).as("second"))
        .select(col("top.lang").as("lang_pred"),
          (col("top.score") - col("second.score")).as("margin"))
        .select(col("lang_pred"),
          when(col("margin") === 0, lit("0_tie"))
            .when(col("margin") === 1, lit("1"))
            .when(col("margin") === 2, lit("2"))
            .otherwise(lit("3+")).as("band"))
        .groupBy(col("lang_pred"), col("band"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang_pred"), col("band"))
    }),

    // Marker-word language ID.
    "t_lang_id" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextFunctions.predictedLang(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    // Char-trigram-profile language ID (Cavnar–Trenkle family).
    "t_lang_id_ngram" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextFunctions.predictedLangNgram(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    // Classifier evaluation: the (actual, predicted) confusion matrix of
    // the marker-word language ID against the corpus labels — one count
    // aggregate over two per-row projections; the accuracy sheet a
    // curation run records next to its filters.
    "t_lang_confusion" -> ((s, d) =>
      docs(s, d)
        .groupBy(col("lang"),
          TextFunctions.predictedLang(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))),

    // Per-class precision / recall / F1 of the marker-word language ID
    // — the metrics sheet distilled from t_lang_confusion's matrix. One
    // projection feeds two grouped counts (per actual class with its
    // true positives, per predicted class), FULL-joined so a class that
    // appears only as a prediction still reports. Every metric is ONE
    // exact-int IEEE division: precision tp/n_pred, recall tp/n_actual,
    // and F1 in its 2tp/(n_actual+n_pred) form — algebraically equal to
    // the harmonic mean but a single division of integers, so no
    // intermediate float can drift between engines. Degenerate
    // denominators yield NULL, not a crash.
    "t_langid_prf" -> ((s, d) => {
      val pred = docs(s, d).select(col("lang"),
        TextFunctions.predictedLang(col("text")).as("pred"))
      val byActual = pred.groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_actual"),
          sum(when(col("lang") === col("pred"), 1L).otherwise(0L))
            .cast("long").as("tp"))
      val byPred = pred.groupBy(col("pred"))
        .agg(count(lit(1)).cast("long").as("n_pred"))
      byActual.join(byPred, col("lang") === col("pred"), "full")
        .select(coalesce(col("lang"), col("pred")).as("cls"),
          coalesce(col("n_actual"), lit(0L)).as("n_actual"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("prec", when(col("n_pred") > 0,
          col("tp").cast("double") / col("n_pred").cast("double")))
        .withColumn("rec", when(col("n_actual") > 0,
          col("tp").cast("double") / col("n_actual").cast("double")))
        .withColumn("f1", when(col("n_actual") + col("n_pred") > 0,
          (col("tp") * 2).cast("double") /
            (col("n_actual") + col("n_pred")).cast("double")))
        .orderBy(col("cls"))
    }),

    // Document fingerprint (min-md5 over 5-gram shingles).
    "t_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextFunctions.fingerprint(col("text"), 5).as("fp"))
        .orderBy(col("doc_id"))),

    // Winnowing LOCAL fingerprints (MOSS): per-window minimum over
    // 3-gram hashes, window w=4 — any shared passage of ≥ 6 tokens
    // shares a fingerprint. Exploded rows + per-doc sliding-min window
    // (see Dedup.winnowFingerprints for why not array lambdas);
    // summarized per doc as count + min/max so the output stays narrow
    // while pinning the whole set's content.
    "t_winnow_fp" -> ((s, d) =>
      Dedup.winnowFingerprints(docs(s, d), "doc_id", "text", k = 3, w = 4)
        .orderBy(col("doc_id"))),

    // BPE-ish regex token count (the GPT-2 pretokenizer family, minus
    // RE2-unsupported lookahead): contractions / letter runs / digit
    // runs / punct runs / whitespace — the second token-count axis the
    // brief names beside whitespace counting. Both engines run the
    // IDENTICAL pattern (leftmost-first alternation in Java regex and
    // RE2 agree on this grammar); ratio is one exact-int division.
    "t_tokens_regex" -> ((s, d) => {
      val pat = "'(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+|\\s+"
      val nBpe = regexp_count(TextFunctions.lowerUtf8(col("text")), lit(pat))
      val nWs = TextFunctions.tokenCount(col("text"))
      docs(s, d).select(col("doc_id"),
          nWs.as("n_ws"), nBpe.cast("long").as("n_bpe"),
          when(nWs === 0, lit(0.0))
            .otherwise(nBpe.cast("double") / nWs).as("bpe_per_word"))
        .orderBy(col("doc_id"))
    }),

    // Winnow-candidate containment — the SCALE PATH promised in
    // SCALE.md for the directional check: candidates come from shared
    // winnowing fingerprints (≥2, both directions) instead of blocked
    // all-pairs, then the exact |A∩B|/|A| verify runs on candidates
    // only. Linear in fingerprint volume + candidate count — the shape
    // that replaces t_containment's block-quadratic scan at 100 TB.
    "t_containment_scaled" -> ((s, d) => {
      val dd = docs(s, d)
      // winnowSets emits distinct (doc, fp) rows since r16 — no dedup
      // exchange needed before staging.
      val fps = Dedup.winnowSets(dd, "doc_id", "text", 3, 4)
        .localCheckpoint()
      val cand = fps.as("a").join(fps.as("b"),
          col("a._wmin") === col("b._wmin") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_in"),
          col("b.doc_id").as("id_out"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2)
        .select(col("id_in"), col("id_out"))
      val sh = dd.select(col("doc_id"),
        TextFunctions.sortedShingles(col("text"), 3).as("sh"))
      cand
        .join(sh.withColumnsRenamed(
          Map("doc_id" -> "id_in", "sh" -> "sh_a")), "id_in")
        .join(sh.withColumnsRenamed(
          Map("doc_id" -> "id_out", "sh" -> "sh_b")), "id_out")
        .withColumn("_i", graft.functions.NativeFunctions
          .sortedIntersectSize(col("sh_a"), col("sh_b")))
        .where(col("_i") * 100 >= lit(50) * size(col("sh_a")))
        .select(col("id_in"), col("id_out"),
          (col("_i").cast("double") / size(col("sh_a")))
            .as("containment"))
        .orderBy(col("id_in"), col("id_out"))
    }),

    // The same winnow-candidate containment pipeline over a DIVERSE
    // corpus fixture (SCALE.md carried item): the driver's synthetic
    // documents are templated, so winnow fingerprints collide nearly
    // all-pairs and the candidate set degenerates to the quadratic one —
    // the pipeline's near-linear candidate claim could only be argued,
    // not measured. The fixture derives a diverse corpus from the SAME
    // documents table (no synthesized inputs): each doc gets unique
    // md5-derived pseudo-tokens, every 20th doc additionally carries one
    // of G shared 20-token passages where G = max(1, n_docs/200) — so
    // passage-group SIZE stays ~10 docs at every corpus size while group
    // COUNT grows linearly. Candidate volume = Σ group² ≈ 100·G = LINEAR
    // in the corpus (measured in SCALE.md), while every-100th doc is
    // mostly-passage and passes the directional ≥50% verify against its
    // group — so the output exercises the full candidate→verify chain.
    "t_containment_diverse" -> ((s, d) => {
      val dv = diverseDocs(s, d)
      // Distinct by construction since r16 (see t_containment_scaled).
      val fps = Dedup.winnowSets(dv, "doc_id", "text", 3, 4)
        .localCheckpoint()
      val cand = fps.as("a").join(fps.as("b"),
          col("a._wmin") === col("b._wmin") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_in"),
          col("b.doc_id").as("id_out"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2)
        .select(col("id_in"), col("id_out"))
      val sh = dv.select(col("doc_id"),
        TextFunctions.sortedShingles(col("text"), 3).as("sh"))
      cand
        .join(sh.withColumnsRenamed(
          Map("doc_id" -> "id_in", "sh" -> "sh_a")), "id_in")
        .join(sh.withColumnsRenamed(
          Map("doc_id" -> "id_out", "sh" -> "sh_b")), "id_out")
        .withColumn("_i", graft.functions.NativeFunctions
          .sortedIntersectSize(col("sh_a"), col("sh_b")))
        .where(col("_i") * 100 >= lit(50) * size(col("sh_a")))
        .select(col("id_in"), col("id_out"),
          (col("_i").cast("double") / size(col("sh_a")))
            .as("containment"))
        .orderBy(col("id_in"), col("id_out"))
    }),

    // Winnow-fingerprint candidate pairs: docs sharing ≥ 2 local
    // fingerprints — the candidate generator for passage-level reuse
    // detection (each shared fingerprint certifies a shared ≥ 6-token
    // window). One equi-join on the fingerprint value — the LSH-bucket
    // shape, with the same bucket-skew mitigations at scale.
    "t_winnow_pairs" -> ((s, d) => {
      // Both join sides read the SAME fingerprint set — materialize it
      // once (at the lake this is the staged fingerprint table) instead
      // of computing it twice. Rows are distinct by construction since
      // r16 (winnowSets explodes the per-doc distinct set).
      val fps = Dedup.winnowSets(docs(s, d), "doc_id", "text", 3, 4)
        .localCheckpoint()
      fps.as("a").join(fps.as("b"),
          col("a._wmin") === col("b._wmin") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Per-document n-gram NOVELTY — first-occurrence attribution: what
    // fraction of a doc's distinct 8-gram shingles appears in NO
    // lower-id document (corpus order = ingestion order). The
    // source-contribution metric behind "how much fresh text does this
    // crawl/source add" — the doc-level dual of t_dup_spans' gram-level
    // profile. Shape: distinct (doc, gram) pairs, min(doc_id) window
    // partitioned BY GRAM (one shuffle on the gram, the same key
    // t_dup_spans shuffles on), then a per-doc count aggregate (second
    // shuffle on doc_id) — linear in corpus gram volume at any size,
    // never pairwise. Novelty is one exact int/int division.
    "t_novelty" -> ((s, d) => {
      val pairs = docs(s, d).select(col("doc_id"),
          explode(TextFunctions.shingles(col("text"), 8)).as("gram"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gram"))
      pairs.withColumn("_first", min(col("doc_id")).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("_first") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast("double") / col("n_grams"))
        .orderBy(col("doc_id"))
    }),

    // DSIR-style importance selection (Xie et al., "Data Selection for
    // Language Models via Importance Resampling"): score every doc by
    // how target-like its hashed n-gram feature profile is, select the
    // top-k. Features are distinct 2-gram shingles hashed into 4096
    // md5-prefix buckets (string buckets — no hex→int conversion to
    // drift between engines); target = the `en` slice of the corpus.
    // DSIR's log-ratio Σ log(p_t(b)/p_r(b)) is NOT cross-engine exact
    // (libm log differs in the last ulp), so the score is the exact
    // integer CONTRAST Σ_b (T_b·R − R_b·T) over the doc's buckets —
    // positive ⇔ the bucket mix leans target — which preserves DSIR's
    // ranking intent with bit-identical arithmetic. Scale shape: the
    // 4096-row bucket table BROADCASTS back onto the doc-bucket pairs
    // (map-side), so the whole selection is one gram-explode scan + two
    // hash aggregates + a TakeOrdered — linear at any corpus size.
    "t_dsir_select" -> ((s, d) => {
      val db = docs(s, d).select(col("doc_id"), col("lang"),
          explode(TextFunctions.shingles(col("text"), 2)).as("g"))
        .select(col("doc_id"), col("lang"),
          substring(md5(col("g")), 1, 3).as("b"))
        .distinct()
      val agg = db.groupBy(col("b")).agg(
        count(lit(1)).as("r_b"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_b"))
      val tot = agg.agg(sum(col("r_b")).as("rr"), sum(col("t_b")).as("tt"))
      db.join(broadcast(agg), "b")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(sum(col("t_b") * col("rr") - col("r_b") * col("tt"))
            .as("score"),
          count(lit(1)).as("n_buckets"))
        .orderBy(desc("score"), col("doc_id"))
        .limit(50)
    }),

    // Keyword extraction: top TF-IDF term per doc with a RATIONAL idf
    // ((N−df+½)/(df+½), the BM25 idf core — no logarithm, so the score
    // is one exact-integer-ratio division and both engines agree on
    // every bit). Stopword band df ∈ [2, N/2]; argmax via max_by over
    // a (score, term) struct (ties → max term, replayed by the oracle
    // as row_number DESC, DESC).
    "t_keywords" -> ((s, d) => {
      val dd = docs(s, d)
      val tok = dd.select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("w"))
        .where(length(col("w")) > 0)
      val tf = tok.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = dd.agg(count(lit(1)).as("nn"))
      tf.join(dfc, "w").crossJoin(broadcast(n))
        .where(col("df") >= 2 && col("df") * 2 <= col("nn"))
        .withColumn("score",
          (col("tf") * (lit(2) * col("nn") - lit(2) * col("df") + 1))
            .cast("double") / (lit(2) * col("df") + 1))
        .groupBy(col("doc_id"))
        .agg(max_by(
          struct(col("w"), col("tf"), col("df"), col("score")),
          struct(col("score"), col("w"))).as("t"))
        .select(col("doc_id"), col("t.w").as("keyword"),
          col("t.tf").as("tf"), col("t.df").as("df"),
          col("t.score").as("score"))
        .orderBy(col("doc_id"))
    }),

    // Per-document FAMILIARITY — the exact-integer stand-in for LM
    // perplexity filtering (CCNet/Gopher keep in-distribution text):
    // mean corpus document-frequency of the doc's distinct 3-gram
    // shingles. A doc of phrases the rest of the corpus also uses
    // scores high; out-of-distribution text scores ~1 (only itself).
    // No logarithms — df sums and the final int/int division are
    // bit-identical across engines (t_novelty posture). Shape: distinct
    // (doc, gram) pairs, count window partitioned BY GRAM (one shuffle
    // on the gram), then a per-doc aggregate (second shuffle on doc_id)
    // — linear in corpus gram volume, never pairwise, at any size.
    "t_familiarity" -> ((s, d) => {
      val pairs = docs(s, d).select(col("doc_id"),
          explode(TextFunctions.shingles(col("text"), 3)).as("gram"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gram"))
      pairs.withColumn("_df", count(lit(1)).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(col("_df")).as("df_total"))
        .withColumn("familiarity",
          col("df_total").cast("double") / col("n_grams"))
        .orderBy(col("doc_id"))
    }),

    // CROSS-SOURCE contamination matrix — which source pairs share
    // verbatim 5-gram content (mirror sites, syndication, template
    // farms): distinct (source, shingle) pairs joined on the shingle,
    // counted per source pair. Ubiquitous shingles (present in > 10 of
    // the 20 sources) are DROPPED first — the decontam stop-gram cap —
    // so no common phrase can fan a join key across every source pair;
    // a surviving shingle contributes at most C(10,2) pairs. Exact
    // integer counts; the md5-free raw shingles keep the join key
    // identical to the Spark side's shingle strings.
    "t_cross_source_overlap" -> ((s, d) => {
      val g = docs(s, d).select(col("source"),
          explode(TextFunctions.shingles(col("text"), 5)).as("sh"))
        .distinct().localCheckpoint()
      val eligible = g.groupBy(col("sh"))
        .agg(count(lit(1)).cast("long").as("nsrc"))
        .where(col("nsrc") >= 2 && col("nsrc") <= 10)
        .select(col("sh"))
      val gg = g.join(eligible, Seq("sh"))
      gg.as("a").join(gg.as("b"),
          col("a.sh") === col("b.sh") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).cast("long").as("n_shared_shingles"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Quality-gate ABLATION matrix — which filters actually bite, and
    // where they overlap: every document is scored against three
    // independent gates (length n_tok ≥ 5, naturalness ≥ 1 stopword,
    // repetition 2·distinct ≥ total — the last a cross-multiplied
    // integer ratio test) and counted per gate-combination bitmask.
    // The curation question this answers — "if I drop the stopword
    // gate, how many docs change fate?" — needs the full 2³ matrix,
    // not three marginal pass rates. One scan, one 8-row aggregate;
    // the share is one IEEE division.
    "t_gate_ablation" -> ((s, d) => {
      val ws = filter(TextFunctions.tokens(col("text")),
        w => length(w) > 0)
      val m = docs(s, d).select(
          size(ws).cast("long").as("n_tok"),
          size(filter(ws, w => w === "the" || w === "a")).cast("long")
            .as("n_stop"),
          size(array_distinct(ws)).cast("long").as("n_uniq"))
        .select((col("n_tok") >= 5).as("g_len"),
          (col("n_stop") >= 1).as("g_stop"),
          (col("n_uniq") * 2 >= col("n_tok")).as("g_rep"))
        .groupBy(col("g_len"), col("g_stop"), col("g_rep"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
      m.crossJoin(broadcast(
          m.agg(sum(col("n_docs")).cast("long").as("nt"))))
        .select(
          (when(col("g_len"), 1L).otherwise(0L) +
            when(col("g_stop"), 2L).otherwise(0L) +
            when(col("g_rep"), 4L).otherwise(0L)).as("mask"),
          col("g_len"), col("g_stop"), col("g_rep"), col("n_docs"),
          (col("n_docs").cast("double") / col("nt").cast("double"))
            .as("share"))
        .orderBy(col("mask"))
    }),

    // CONTEXT-WINDOW FIT report — the sequence-length planning card a
    // training pipeline reads before choosing packing parameters: doc
    // token counts in dyadic buckets (binary-digit-count, the
    // g_degree_dist discipline) with each bucket's doc count, token
    // mass, and the running share of documents that fit ≤ the bucket's
    // upper edge — i.e. "a 2^k context window holds this fraction of
    // the corpus whole". The cumulative column rides a window over the
    // ≤64-row bucket aggregate; shares are exact-int IEEE divisions.
    "t_context_fit" -> ((s, d) => {
      val sizes = docs(s, d).select(
          size(filter(TextFunctions.tokens(col("text")),
            w => length(w) > 0)).cast("long").as("n_tok"))
        .where(col("n_tok") > 0)
      val g = sizes
        .withColumn("bucket",
          expr("cast(length(conv(n_tok, 10, 2)) - 1 as bigint)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bucket"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      g.crossJoin(broadcast(
          g.agg(sum(col("n_docs")).cast("long").as("nd"))))
        .withColumn("n_fit", sum(col("n_docs")).over(w).cast("long"))
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          (col("n_fit").cast("double") / col("nd").cast("double"))
            .as("fit_share"))
        .orderBy(col("bucket"))
    }),

    // CCNet-style HEAD/MIDDLE/TAIL split: bucket every document by
    // corpus-wide familiarity terciles — the canonical quality
    // partition a crawl pipeline ships as three sub-corpora. The score
    // becomes an exact integer (milli-units: (df_total·10⁶) div
    // n_grams — at lake scale the product wants decimal(38,0), here
    // df_total < 2^43 keeps the long exact) so the terciles come from
    // the Median histogram ladder (nearest-rank order statistics, no
    // global sort), and the two cut points broadcast back as one row.
    // Bucketing is integer comparison only — no float can move a doc
    // across a cut between engines.
    "t_ccnet_buckets" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gram"))
      val scored = docs(s, d).select(col("doc_id"),
          explode(TextFunctions.shingles(col("text"), 3)).as("gram"))
        .distinct()
        .withColumn("_df", count(lit(1)).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"), sum(col("_df")).as("df_total"))
        .withColumn("score_milli",
          expr("(df_total * 1000000) div n_grams"))
        .localCheckpoint()
      val cuts = graft.operators.Median.groupQuantilesLong(
          scored, Seq.empty, "score_milli", Seq(33, 67))
        .agg(min(when(col("pct") === 33, col("value"))).as("t33"),
          min(when(col("pct") === 67, col("value"))).as("t67"))
      scored.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("score_milli"), col("t33"),
          col("t67"),
          when(col("score_milli") >= col("t67"), "head")
            .when(col("score_milli") >= col("t33"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // BOILERPLATE LINE report — the top-20 most-duplicated lines by
    // DOCUMENT frequency (each doc counts a line once): the signature
    // list line-dedup feeds on, surfaced for human review ("is this a
    // nav bar or a legitimate common sentence"). Same 10-token
    // pseudo-line construction as t_line_dedup; one distinct + one
    // grouped count + TakeOrdered with full tie-breaks.
    "t_boilerplate_lines" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          filter(TextFunctions.tokens(col("text")),
            w => length(w) > 0).as("ws"))
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(0), expr("(size(ws) - 1) div 10")),
            i => array_join(slice(col("ws"), i * lit(10) + 1, lit(10)),
              " "))).as("line"))
        .distinct()
        .groupBy(col("line"))
        .agg(count(lit(1)).cast("long").as("df"))
        .where(col("df") >= 2)
        .orderBy(col("df").desc, col("line"))
        .limit(20)),

    // DEDUP SAVINGS report — the line a curation run actually reports
    // up: documents and TOKENS before vs after near-dedup, and the
    // share of training tokens the dedup saves (one exact-int IEEE
    // division each). Token counts join the keeper set on the doc key;
    // everything else is two scalar aggregates folded into one row via
    // broadcast. "We dropped 3% of docs" and "we dropped 9% of tokens"
    // are different decisions — duplicates skew long.
    "t_dedup_savings" -> ((s, d) => {
      val tok = docs(s, d).select(col("doc_id"),
          size(filter(TextFunctions.tokens(col("text")),
            w => length(w) > 0)).cast("long").as("n_tok"))
        .localCheckpoint()
      val kept = Dedup.nearDedupKept(docs(s, d), "doc_id", "text",
          threshold = 0.5)
        .select(col("doc_id"))
      val keptAgg = tok.join(kept, Seq("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_docs_kept"),
          sum(col("n_tok")).cast("long").as("n_tokens_kept"))
      tok.agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"))
        .crossJoin(broadcast(keptAgg))
        .select(col("n_docs"), col("n_docs_kept"),
          col("n_tokens"), col("n_tokens_kept"),
          ((col("n_docs") - col("n_docs_kept")).cast("double") /
            col("n_docs").cast("double")).as("doc_savings"),
          ((col("n_tokens") - col("n_tokens_kept")).cast("double") /
            col("n_tokens").cast("double")).as("token_savings"))
    }),

    // CCNet-split FAIRNESS matrix — does the familiarity tercile skew
    // against non-English? The head/middle/tail assignment (identical
    // construction to t_ccnet_buckets: milli-unit score, ladder
    // terciles) crossed with the language label, with each language's
    // head share — the bias check a curation run owes its corpus
    // before shipping the "head" slice as high-quality. Counts exact;
    // the share one IEEE division.
    "t_ccnet_by_lang" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gram"))
      val scored = docs(s, d).select(col("doc_id"), col("lang"),
          explode(TextFunctions.shingles(col("text"), 3)).as("gram"))
        .distinct()
        .withColumn("_df", count(lit(1)).over(w))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_grams"), sum(col("_df")).as("df_total"))
        .withColumn("score_milli",
          expr("(df_total * 1000000) div n_grams"))
        .localCheckpoint()
      val cuts = graft.operators.Median.groupQuantilesLong(
          scored, Seq.empty, "score_milli", Seq(33, 67))
        .agg(min(when(col("pct") === 33, col("value"))).as("t33"),
          min(when(col("pct") === 67, col("value"))).as("t67"))
      val bucketed = scored.crossJoin(broadcast(cuts))
        .select(col("lang"),
          when(col("score_milli") >= col("t67"), "head")
            .when(col("score_milli") >= col("t33"), "middle")
            .otherwise("tail").as("bucket"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val tot = bucketed.groupBy(col("lang"))
        .agg(sum(col("n_docs")).cast("long").as("n_lang"))
      bucketed.join(tot, Seq("lang"))
        .withColumn("share_of_lang",
          col("n_docs").cast("double") / col("n_lang").cast("double"))
        .select(col("lang"), col("bucket"), col("n_docs"),
          col("n_lang"), col("share_of_lang"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // Near-dup CLUSTER-SIZE profile — "how duplicated is this corpus,
    // at what multiplicity": component sizes of the 0.5-Jaccard
    // near-dup graph histogrammed, with unclustered documents reported
    // as size-1 clusters (every component node has an edge, so true
    // singletons only come from the complement count — two broadcast
    // scalars, no extra doc scan joins). n_docs = size · clusters is
    // exact by construction.
    "t_neardup_profile" -> ((s, d) => {
      val cc = Dedup.connectedComponents(
        Dedup.nearDupPairs(docs(s, d), "doc_id", "text",
          threshold = 0.5),
        "id_a", "id_b").localCheckpoint()
      val multi = cc.groupBy(col("cluster"))
        .agg(count(lit(1)).cast("long").as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).cast("long").as("n_clusters"))
      val singles = docs(s, d)
        .agg(count(lit(1)).cast("long").as("nd"))
        .crossJoin(broadcast(cc.agg(count(lit(1)).cast("long").as("ni"))))
        .select(lit(1L).as("cluster_size"),
          (col("nd") - col("ni")).as("n_clusters"))
      multi.unionByName(singles)
        .groupBy(col("cluster_size"))
        .agg(sum(col("n_clusters")).cast("long").as("n_clusters"))
        .where(col("n_clusters") > 0)
        .withColumn("n_docs", expr("cluster_size * n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    // Per-source document cap — the domain-cap curation op (web corpora
    // cap pages per domain so no single host dominates the mix): keep
    // the top 10 docs per source by (n_chars DESC, doc_id) via
    // row_number over a source-partitioned window. ONE hash shuffle on
    // the source key; no global window, no collect — the 100 TB plan is
    // identical, and skewed mega-domains stay bounded because only the
    // top 10 rows per partition survive the window's per-key sort.
    "t_source_cap" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(desc("n_chars"), col("doc_id"))
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 10)
        .orderBy(col("source"), col("rk"))
    }),

    // Positional-index PHRASE SEARCH: postings (doc, pos, token) staged
    // ONCE; adjacency self-join on (doc_id, pos+1) materializes bigram
    // occurrences; the corpus-wide top bigram (count DESC, then lexical
    // — fully deterministic) broadcasts back onto the occurrence set to
    // rank matching docs. The retrieval face the inverted index alone
    // can't express: "these words ADJACENT, in order". All joins are
    // key-hash on doc_id or broadcast; nothing is ever all-pairs, so
    // the plan survives any corpus size.
    "t_phrase_search" -> ((s, d) => {
      val p = docs(s, d).select(col("doc_id"),
          posexplode(filter(TextFunctions.tokens(col("text")),
            w => length(w) > 0)).as(Seq("pos", "w")))
        .localCheckpoint() // read twice: both sides of the adjacency join
      val bg = p.as("x").join(p.as("y"),
          col("x.doc_id") === col("y.doc_id") &&
            col("y.pos") === col("x.pos") + 1)
        .select(col("x.doc_id").as("doc_id"),
          col("x.w").as("w1"), col("y.w").as("w2"))
      val top = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("w1"), col("w2")).limit(1)
        .select(col("w1"), col("w2"))
      bg.join(broadcast(top), Seq("w1", "w2"))
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_occ"))
        .select(col("doc_id"), col("w1"), col("w2"), col("n_occ"))
        .orderBy(col("doc_id"))
    }),

    // 64-bit SimHash bit-strings.
    "t_simhash" -> ((s, d) =>
      Dedup.simhashTable(docs(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // SimHash near-dup pairs (Hamming <= 3, the classic 4×16-bit
    // pigeonhole split) via multi-block candidate generation. The oracle
    // computes ALL-PAIRS Hamming, so a green row proves the blocking
    // dropped no qualifying pair.
    "t_simhash_neardup" -> ((s, d) =>
      Dedup.simhashNearDup(docs(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // MinHash-LSH near-dup pairs, exact-Jaccard verified at 0.5.
    "t_neardup_pairs" -> ((s, d) =>
      Dedup.nearDupPairs(docs(s, d), "doc_id", "text", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // Sketch calibration: MinHash Jaccard estimate vs exact Jaccard on
    // every LSH candidate pair.
    "t_minhash_est" -> ((s, d) =>
      Dedup.minhashCalibration(docs(s, d), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))),

    // Near-dup clusters: pairs → connected components (min-label).
    "t_neardup_clusters" -> ((s, d) =>
      Dedup.connectedComponents(
        Dedup.nearDupPairs(docs(s, d), "doc_id", "text", threshold = 0.5),
        "id_a", "id_b")
        .orderBy(col("node"))),

    // Final near-dedup survivor set: every doc minus non-keeper cluster
    // members (keeper = min id per cluster), via anti-join.
    "t_neardup_kept" -> ((s, d) =>
      Dedup.nearDedupKept(docs(s, d), "doc_id", "text", threshold = 0.5)
        .select(col("doc_id")).orderBy(col("doc_id"))),

    // Blocked exact n-gram Jaccard within (lang, source).
    "t_ngram_blocked" -> ((s, d) =>
      Dedup.blockedJaccard(docs(s, d), "doc_id", "text",
        Seq("lang", "source"), threshold = 0.2)
        .orderBy(col("id_a"), col("id_b"))),

    // Directional containment dedup within (lang, source) blocks:
    // |A∩B|/|A| ≥ 0.5 — the short-doc-swallowed-by-long-doc relation
    // Jaccard misses (cross-multiplied integer threshold; ratio is one
    // exact-int division).
    "t_containment" -> ((s, d) =>
      Dedup.blockedContainment(docs(s, d), "doc_id", "text",
        Seq("lang", "source"), pct = 50)
        .orderBy(col("id_in"), col("id_out"))),

    // Prefix-filtered set-similarity self-join (PPJoin family): UNBLOCKED
    // all-pairs word-set Jaccard ≥ 1/2 — candidates only from shared
    // rarest-first prefix tokens; the all-pairs oracle proves the prefix
    // filter lossless. 9/10 because the synthetic corpus is templated
    // (median pairwise word-set jac ≈ 0.5 — a loose threshold keeps
    // nearly everything and demonstrates no pruning).
    // r16: the verified pair set is STAGED (localCheckpoint) before the
    // global sort — Spark's range partitioner runs a SAMPLE job over the
    // sort's child, and without the boundary that job re-executed the
    // whole post-shuffle verify pipeline (distinct-final + two joins +
    // intersect ≈ 40 CPU-s, the query's single largest cost — two
    // profile stages each reading the same 21 MB candidate exchange).
    // The staged table is ~1M narrow rows; sampling it is free.
    "t_setsim_prefix" -> ((s, d) =>
      graft.operators.SetSimJoin.prefixJaccardPairs(
          docs(s, d), "doc_id", "text", tNum = 9, tDen = 10)
        .localCheckpoint()
        .orderBy(col("id_a"), col("id_b"))),

    // Similarity-THRESHOLD sweep — the dedup-knob tuning curve ("how
    // many pairs does each threshold catch"): run the prefix-filtered
    // join ONCE at the loosest threshold of interest (0.7) and band
    // the verified pairs by floor(jac·10), so one pass prices every
    // tighter setting. The banding double ops (one exact-int division,
    // ·10, floor) are IEEE-identical in both engines, so even boundary
    // values land in the same band everywhere. Same plan family as
    // t_setsim_prefix plus one tiny aggregate over the pair set.
    "t_setsim_sweep" -> ((s, d) =>
      graft.operators.SetSimJoin.prefixJaccardPairs(
          docs(s, d), "doc_id", "text", tNum = 7, tDen = 10)
        .withColumn("band", floor(col("jac") * 10).cast("long"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("band"))),

    // Simpson DIVERSITY (1 − Σc²/n²) per document — the lexical-
    // diversity quality signal with NO logarithm (the Gini–Simpson
    // index as the cross-engine-exact entropy stand-in): low values =
    // a few tokens dominate (spammy/templated text), high = diverse.
    // Σc² and n are exact integers from one (doc, token) count
    // aggregate; the final expression is one division. Two linear
    // hash shuffles (token counts, then per-doc) — never pairwise.
    "t_simpson_diversity" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          explode(filter(TextFunctions.tokens(col("text")),
            w => length(w) > 0)).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tok"),
          sum(col("c") * col("c")).as("sum_c2"),
          count(lit(1)).as("n_distinct"))
        .withColumn("simpson",
          lit(1.0) - col("sum_c2").cast("double") /
            (col("n_tok") * col("n_tok")))
        .orderBy(col("doc_id"))),

    // Leakage-safe corpus split: every doc inherits its near-dup
    // CLUSTER's split (hash of the cluster label), so near-duplicates
    // cannot straddle train/eval. The n_leaky_clusters column COMPUTES
    // the guarantee from the data (must be 0); per-split doc/cluster
    // counts beside it.
    "t_split_leakage" -> ((s, d) => {
      val dd = docs(s, d)
      val cc = Dedup.connectedComponents(
        Dedup.nearDupPairs(dd, "doc_id", "text", threshold = 0.5),
        "id_a", "id_b")
      val splits = graft.operators.TrainingMix.splitAssignments(
        dd, "doc_id", cc, testRate = 0.1, valRate = 0.1)
        .localCheckpoint()
      val leaky = splits.groupBy(col("cluster"))
        .agg(countDistinct(col("split")).as("k"))
        .agg(sum(when(col("k") > 1, 1L).otherwise(0L))
          .cast("long").as("_leaky"))
      splits.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"))
        .crossJoin(broadcast(leaky))
        .select(col("split"), col("n_docs"), col("n_clusters"),
          col("_leaky").as("n_leaky_clusters"))
        .orderBy(col("split"))
    }),

    // Probability-proportional-to-size sample (~50 docs expected,
    // weight = token count): long documents stop being under-
    // represented. Pure per-row hash predicate, cross-multiplied exact
    // integers, no RNG — bit-identical on re-run and in the oracle.
    "t_sample_pps" -> ((s, d) =>
      graft.operators.Sampling.ppsSample(
          docs(s, d), "doc_id",
          TextFunctions.tokenCount(col("text")), targetK = 50L)
        .select(col("doc_id")).orderBy(col("doc_id"))),

    // DOCUMENT-similarity decontamination: n-gram decontam (t_decontam)
    // catches verbatim eval spans; this catches WHOLE-DOCUMENT
    // near-copies of eval items (paraphrases, re-crawls) via the
    // exact-threshold cross-relation prefix join, then anti-joins them
    // out. Output = the clean corpus; oracle = full cross product.
    "t_decontam_docsim" -> ((s, d) => {
      val dd = docs(s, d)
      val eval = dd.where(pmod(col("doc_id"), lit(13)) === 0)
      val corpus = dd.where(pmod(col("doc_id"), lit(13)) =!= 0)
      val flagged = graft.operators.SetSimJoin.prefixJaccardJoin(
          eval, corpus, "doc_id", "text", tNum = 4, tDen = 5)
        .select(col("id_b").as("doc_id")).distinct()
      corpus.join(flagged, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // TOKEN-weighted median document length — "half the corpus TOKENS
    // sit in docs shorter than this": the curation statistic a
    // row-count median gets wrong on mixed-length corpora. Computed in
    // weight-rank space WITHOUT expanding rows; the oracle expands
    // every doc `tokens` times and takes the plain median — proving
    // the weighted machinery ≡ the expanded multiset.
    "t_weighted_median" -> ((s, d) =>
      graft.operators.Median.groupWeightedMedianCents(
        docs(s, d), Seq.empty, "n_chars",
        TextFunctions.tokenCount(col("text")))),

    // Profiling histogram: n_chars distribution in 16 equal integer
    // buckets, bounds from the data (broadcast-scalar min/max), empty
    // buckets emitted. All edges/ids from exact integer division.
    "dq_histogram" -> ((s, d) =>
      Histogram.equiWidthAuto(docs(s, d), "n_chars", 16)
        .orderBy(col("bucket"))),

    // Categorical drift gate: language distribution of one corpus half
    // vs the other (deterministic doc_id parity split). TVD summed as
    // exact cross-multiplied integers, ONE division at the end.
    "dq_drift_lang" -> ((s, d) =>
      Drift.totalVariation(
        docs(s, d).where(col("doc_id") % 2 === 0),
        docs(s, d).where(col("doc_id") % 2 === 1), "lang")),

    // χ² drift contributions — WHICH category drove the shift, the
    // attribution sheet beside dq_drift_lang's single TVD score. The
    // two-sample χ² term collapses algebraically to D_i²/(A·B·c_i)
    // with D_i = B·a_i − A·b_i and c_i = a_i + b_i — all exact
    // integers, one double division per category and NO global float
    // sum (Σ over categories is the caller's reduction; a cross-
    // engine float sum over an unordered aggregate would not be
    // bit-stable, so the engine refuses to take it).
    "dq_drift_chisq" -> ((s, d) => {
      def counts(par: Int) = docs(s, d).where(col("doc_id") % 2 === par)
        .groupBy(col("lang").as("cat")).agg(count(lit(1)).as("n"))
      // Kernel shared with the streamed face (operators/Drift.scala
      // `chisqFromCounts`) since round 10 — identical expression
      // structure to the original inline form, hash-invariant under
      // the oracle.
      Drift.chisqFromCounts(counts(0), counts(1))
    }),

    // The STREAMED χ² face under the driver's own gate — the even-id
    // corpus half maintained as two replayed micro-batches of per-
    // category partial counts (doc_id%4 = 0 then 2, the exactly-once
    // recipe), with a PartialState.compact fold between them (so
    // compaction itself sits under the oracle); the attribution reads
    // the maintained counts against the batch-computed odd-half
    // reference through the IDENTICAL shared kernel. Category counts
    // are additive, so streamed ≡ batch category-for-category — the
    // oracle is dq_drift_chisq's VERBATIM.
    "dq_drift_chisq_stream" -> ((s, d) => {
      val st = Tables.freshScratchDir("chisq_stream", d)
      val dd = docs(s, d)
      graft.streaming.DriftStream.applyCategoryBatch(
        dd.where(col("doc_id") % 4 === 0), 0L, st, "lang")
      graft.streaming.DriftStream.compact(s, st)
      graft.streaming.DriftStream.applyCategoryBatch(
        dd.where(col("doc_id") % 4 === 2), 1L, st, "lang")
      // Null symmetry with the null-excluding categorical state — the
      // oracle's halves carry the identical predicate.
      val ref = dd.where(col("doc_id") % 2 === 1 && col("lang").isNotNull)
        .groupBy(col("lang").as("cat")).agg(count(lit(1)).as("n"))
      graft.streaming.DriftStream.chisqAgainstReference(s, st, ref)
    }),

    // The STREAMED TVD face under the driver's own gate — same
    // maintained even-half state as dq_drift_chisq_stream (two replayed
    // category-count micro-batches with a mid-replay compact), read
    // against the batch-computed odd-half reference through the shared
    // Drift.totalVariationFromCounts kernel — the single drift score
    // beside the streamed χ² attribution. Counts additive, kernel
    // shared, so streamed ≡ batch — the oracle is dq_drift_lang's
    // VERBATIM.
    "dq_drift_lang_stream" -> ((s, d) => {
      val st = Tables.freshScratchDir("tvd_stream", d)
      val dd = docs(s, d)
      graft.streaming.DriftStream.applyCategoryBatch(
        dd.where(col("doc_id") % 4 === 0), 0L, st, "lang")
      graft.streaming.DriftStream.compact(s, st)
      graft.streaming.DriftStream.applyCategoryBatch(
        dd.where(col("doc_id") % 4 === 2), 1L, st, "lang")
      // The categorical state excludes NULL categories by design
      // (DriftStream.applyCategoryBatch), so the reference carries the
      // IDENTICAL predicate — and the oracle both its halves — keeping
      // engine ≡ oracle on a null-bearing corpus too.
      val ref = dd.where(col("doc_id") % 2 === 1 && col("lang").isNotNull)
        .groupBy(col("lang").as("cat")).agg(count(lit(1)).as("n"))
      graft.streaming.DriftStream.tvdCategoriesAgainstReference(s, st, ref)
    }),

    // Numeric drift through the shared pinned histogram grid: n_chars
    // of the two halves bucketed identically, then categorical TVD.
    "dq_drift_nchars" -> ((s, d) =>
      Drift.numericTvd(
        docs(s, d).where(col("doc_id") % 2 === 0),
        docs(s, d).where(col("doc_id") % 2 === 1),
        "n_chars", lo = 0L, hi = 4095L, nb = 16)),

    // Exact-threshold INCREMENTAL near-dup: batch (doc_id%3=0) vs the
    // corpus remainder through the cross-relation prefix filter — the
    // deterministic counterpart of the MinHash incremental path (which
    // can miss pairs at banding probability; this provably cannot —
    // the oracle is the full cross product).
    "t_setsim_incremental" -> ((s, d) => {
      val dd = docs(s, d)
      // Staged before the sort for the same range-sample reason as
      // t_setsim_prefix.
      graft.operators.SetSimJoin.prefixJaccardJoin(
          dd.where(pmod(col("doc_id"), lit(3)) === 0),
          dd.where(pmod(col("doc_id"), lit(3)) =!= 0),
          "doc_id", "text", tNum = 9, tDen = 10)
        .localCheckpoint()
        .orderBy(col("id_a"), col("id_b"))
    }),

    // BPE-ish regex token count: greedy alternation of letter runs, digit
    // runs, and single non-alnum symbols (the GPT-2 pre-tokenizer family,
    // simplified to classes both regex engines treat identically).
    "t_tokens_bpe" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        size(regexp_extract_all(TextFunctions.lowerUtf8(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast("long").as("n_bpe_tokens"))
        .orderBy(col("doc_id"))),

    // Composite quality score + keep/drop gate — the filter a training-data
    // pipeline runs before dedup. All inputs are exact integer ratios, the
    // arithmetic is mirrored op-for-op by the oracle, so the doubles are
    // bit-identical.
    "t_quality_score" -> ((s, d) => {
      val nt = TextFunctions.tokenCount(col("text"))
      val pr = TextFunctions.punctRatio(col("text"))
      val awl = TextFunctions.avgWordLen(col("text"))
      docs(s, d).select(col("doc_id"),
        (lit(0.5) * (least(nt, lit(100L)).cast("double") / lit(100.0)) +
          lit(0.3) * (lit(1.0) - pr) +
          lit(0.2) * (least(awl, lit(10.0)) / lit(10.0))).as("quality"),
        (nt >= 5 && pr <= 0.1 && awl >= 2.0 && awl <= 10.0).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-family structural quality signals beyond t_quality_score:
    // symbol-character fraction, alphabetic-word fraction, stopword
    // fraction — the rule set web-scale curation applies before any
    // model-based scoring. Every ratio is exact-int counts with ONE
    // division (empty text guarded: ANSI double div by zero throws);
    // pure per-row projections, zero shuffle.
    "t_quality_gopher" -> ((s, d) => {
      val ws = TextFunctions.tokens(col("text"))
      val stop = Seq("the", "and", "of", "is", "to")
      val symbolFrac = when(length(col("text")) === 0, lit(0.0))
        .otherwise(
          length(regexp_replace(TextFunctions.lowerUtf8(col("text")), "[a-z0-9\\s]", ""))
            .cast("double") / length(col("text")))
      val alphaFrac = size(filter(ws, w => w.rlike("[a-z]")))
        .cast("double") / size(ws)
      val stopFrac = size(filter(ws, w => w.isInCollection(stop)))
        .cast("double") / size(ws)
      docs(s, d).select(col("doc_id"),
          symbolFrac.as("symbol_frac"), alphaFrac.as("alpha_word_frac"),
          stopFrac.as("stopword_frac"))
        .withColumn("keep",
          col("alpha_word_frac") >= 0.8 && col("symbol_frac") <= 0.1)
        .orderBy(col("doc_id"))
    }),

    // LINEAR quality classifier gate (the fasttext-family "trained
    // classifier apply" step that follows the rule-based gates): score =
    // β·features with pinned integer weights. The features are the
    // RATIO family (stopword ratio, chars/token, distinct-token ratio),
    // but because all three share the token-count denominator, the
    // decision boundary β₀ + β₁·f₁ + β₂·f₂ + β₃·f₃ ≥ 0 multiplies
    // through into ONE integer dot product — no float ever enters the
    // keep decision, so no two engines can disagree on a single doc.
    // Weights calibrated on the corpus to keep ≈ 48%. Pure per-row
    // projection: zero shuffle, map-side at scan speed at any corpus
    // size.
    "t_quality_logistic" -> ((s, d) => {
      val ws = filter(TextFunctions.tokens(col("text")),
        w => length(w) > 0)
      val nTok = size(ws).cast("long")
      val nStop = size(filter(ws,
        w => w === "the" || w === "a")).cast("long")
      val nDist = size(array_distinct(ws)).cast("long")
      docs(s, d).select(col("doc_id"), nTok.as("n_tok"),
          nStop.as("n_stop"), nDist.as("n_dist"), col("n_chars"))
        .withColumn("score",
          lit(-800L) * col("n_tok") + lit(3000L) * col("n_stop") +
            lit(60L) * col("n_chars") + lit(600L) * col("n_dist"))
        .withColumn("keep", col("score") >= 0L)
        .select(col("doc_id"), col("n_tok"), col("n_stop"),
          col("n_dist"), col("score"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Gate AGREEMENT matrix — do the three PRODUCTION gates (Gopher
    // rules, trained linear classifier, blocklist) agree, and where
    // exactly do they split? The 2³-cell count is the redundancy/
    // coverage diagnostic a curation funnel reads before deciding gate
    // order (a gate that never disagrees with a cheaper one is dead
    // weight). Sibling of t_gate_ablation, which crosses three CHEAP
    // structural signals — this one crosses the shipped gate stack.
    // The flags are the SAME expressions the three gate queries ship
    // — each already oracle-proven doc-for-doc — evaluated in ONE
    // zero-shuffle projection; the only shuffle carries ≤8 cells.
    "t_gate_agreement" -> ((s, d) => {
      val ws0 = TextFunctions.tokens(col("text"))
      val symbolFrac = when(length(col("text")) === 0, lit(0.0))
        .otherwise(
          length(regexp_replace(TextFunctions.lowerUtf8(col("text")), "[a-z0-9\\s]", ""))
            .cast("double") / length(col("text")))
      val alphaFrac = size(filter(ws0, w => w.rlike("[a-z]")))
        .cast("double") / size(ws0)
      val wsF = filter(TextFunctions.tokens(col("text")),
        w => length(w) > 0)
      val nTok = size(wsF).cast("long")
      val nStop = size(filter(wsF, w => w === "the" || w === "a"))
        .cast("long")
      val nDist = size(array_distinct(wsF)).cast("long")
      val nBad = size(filter(wsF,
        w => w.isInCollection(Seq("error", "slow", "dup")))).cast("long")
      docs(s, d).select(
          (alphaFrac >= 0.8 && symbolFrac <= 0.1).as("keep_gopher"),
          ((lit(-800L) * nTok + lit(3000L) * nStop +
            lit(60L) * col("n_chars") + lit(600L) * nDist) >= 0L)
            .as("keep_logistic"),
          (nBad * 20 <= nTok).as("keep_blocklist"))
        .groupBy(col("keep_gopher"), col("keep_logistic"),
          col("keep_blocklist"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("keep_gopher"), col("keep_logistic"),
          col("keep_blocklist"))
    }),

    // C4-style BLOCKLIST gate — the word-filter curation step (C4
    // dropped any page containing a blocklisted word; production
    // pipelines use a rate threshold instead so one stray token can't
    // nuke a long document): per doc, blocklisted-token occurrences
    // and a keep gate at ≤5% (n_bad·20 ≤ n_tok, exact integer
    // cross-multiplication). The blocklist lives in the plan as an
    // isInCollection literal — pure per-row projection, zero shuffle,
    // scan-speed at any corpus size.
    "t_blocklist_filter" -> ((s, d) => {
      val bad = Seq("error", "slow", "dup")
      val ws = filter(TextFunctions.tokens(col("text")),
        w => length(w) > 0)
      docs(s, d).select(col("doc_id"),
          size(ws).cast("long").as("n_tok"),
          size(filter(ws, w => w.isInCollection(bad))).cast("long")
            .as("n_bad"))
        .withColumn("keep", col("n_bad") * 20 <= col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // Quality-PROPORTIONAL deterministic sampling — soft filtering
    // (CCNet/FineWeb family): instead of a hard keep/drop at a score
    // threshold, keep each doc with probability score/score_max, so
    // borderline text survives at reduced rate and the kept slice's
    // quality mix is graded, not cliffed. No RNG: the coin is a
    // multiplicative-hash residue h = (doc_id·1103515245 + 12345) mod
    // 2³¹, and the decision h·score_max < score⁺·2³¹ is one exact
    // integer cross-multiplication (score⁺ = max(score, 0); corpus max
    // broadcasts as a 1-row aggregate). Per-row projection + one
    // broadcast — zero data shuffle. (At ≫2⁵³ docs the hash product
    // needs a decimal hop; documents here keep it in BIGINT.)
    "t_soft_sample" -> ((s, d) => {
      val ws = filter(TextFunctions.tokens(col("text")),
        w => length(w) > 0)
      val score =
        lit(-800L) * size(ws).cast("long") +
          lit(3000L) * size(filter(ws,
            w => w === "the" || w === "a")).cast("long") +
          lit(60L) * col("n_chars") +
          lit(600L) * size(array_distinct(ws)).cast("long")
      val scored = docs(s, d)
        .select(col("doc_id"), score.as("score"),
          pmod(col("doc_id") * 1103515245L + 12345L,
            lit(2147483648L)).as("h"))
      val mx = scored.agg(max(col("score")).as("smax"))
      scored.crossJoin(broadcast(mx))
        .withColumn("keep",
          col("h") * col("smax") <
            greatest(col("score"), lit(0L)) * lit(2147483648L))
        .select(col("doc_id"), col("score"), col("h"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Stratified sampling with LARGEST-REMAINDER apportionment: draw a
    // fixed budget of K=100 documents with per-language allocations
    // k_i = ⌊K·n_i/N⌋ plus one extra for the ⌈⌉-largest remainders
    // (Hamilton's method — exact integers, Σk_i = K by construction,
    // no float rounding can over- or under-fill the budget). The draw
    // itself is the deterministic md5-order prefix per stratum — the
    // same salted-hash order every sampling query here uses, so both
    // engines pick identical rows. The allocation runs entirely on the
    // |strata|-row aggregate (two broadcast scalars + one window over
    // ≤|langs| rows); the per-stratum pick is one lang-partitioned
    // window over documents — one hash shuffle on the stratum key, the
    // t_source_cap skew bound. This is the "balanced language mix from
    // an imbalanced crawl" curation primitive.
    "t_proportional_sample" -> ((s, d) => {
      val n = docs(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_i"))
        .crossJoin(broadcast(docs(s, d)
          .agg(count(lit(1)).cast("long").as("n_tot"))))
        .withColumn("base", expr("(100 * n_i) div n_tot"))
        .withColumn("rem", expr("(100 * n_i) % n_tot"))
        .localCheckpoint()
      val wRem = org.apache.spark.sql.expressions.Window
        .orderBy(col("rem").desc, col("lang"))
      val alloc = n
        .withColumn("rn", row_number().over(wRem).cast("long"))
        .crossJoin(broadcast(n.agg(
          (lit(100L) - sum(col("base"))).cast("long").as("extra"))))
        .select(col("lang"), col("n_i"),
          when(col("rn") <= col("extra"), col("base") + 1L)
            .otherwise(col("base")).as("k_i"))
      val wPick = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(concat(lit("strat-"), col("doc_id").cast("string"))),
          col("doc_id"))
      docs(s, d).select(col("doc_id"), col("lang"))
        .withColumn("pick", row_number().over(wPick).cast("long"))
        .join(broadcast(alloc), Seq("lang"))
        .where(col("pick") <= col("k_i"))
        .select(col("lang"), col("n_i"), col("k_i"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // COLLOCATION extraction: top-20 adjacent token pairs by LIFT
    // N·c(ab)/(c(a)·c(b)) with a min-count floor of 5 — the statistical
    // "these words are glued" signal (PMI's argument without its log;
    // same ranking), vs t_top_ngrams' raw document frequency which just
    // finds common pairs. The token stream with positions is staged
    // ONCE and feeds unigram counts, bigram counts (one doc-keyed lead
    // window — never a self-join), and the corpus token total; lift is
    // computed double·double / double·double (IEEE multiply and divide
    // are correctly rounded, so both engines agree bitwise, and double
    // products can't overflow where BIGINT n_tok·c_ab could at corpus
    // scale). Two |vocab|-keyed joins attach unigram counts; top-20 is
    // TakeOrdered with full tie-breaks.
    "t_collocations" -> ((s, d) => {
      val p = docs(s, d).select(col("doc_id"),
          posexplode(filter(TextFunctions.tokens(col("text")),
            w => length(w) > 0)).as(Seq("pos", "w")))
        .localCheckpoint()
      val uni = p.groupBy(col("w"))
        .agg(count(lit(1)).cast("long").as("c"))
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      p.withColumn("w2", lead(col("w"), 1).over(wd))
        .where(col("w2").isNotNull)
        .groupBy(col("w").as("w1"), col("w2"))
        .agg(count(lit(1)).cast("long").as("c_ab"))
        .where(col("c_ab") >= 5)
        .join(uni.select(col("w").as("w1"), col("c").as("c_a")),
          Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c_b")),
          Seq("w2"))
        .crossJoin(broadcast(
          p.agg(count(lit(1)).cast("long").as("n_tok"))))
        .withColumn("lift",
          (col("n_tok").cast("double") * col("c_ab").cast("double")) /
            (col("c_a").cast("double") * col("c_b").cast("double")))
        .select(col("w1"), col("w2"), col("c_ab"), col("c_a"),
          col("c_b"), col("lift"))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Per-source DUPLICATION-RATE report — the curation dashboard card
    // behind the "which crawl sources are copy-paste farms" decision:
    // per source, document count, distinct text count (by md5 — the
    // same canonical hash the exact-dedup keeper uses), duplicate rows
    // beyond each first copy, and the dup rate (ONE exact-int IEEE
    // division). Cross-source copies count per-source by design — the
    // report prices each source's own redundancy. Two grouped
    // aggregates ((source, hash) then source); the md5 is map-side.
    "dq_dup_rate_source" -> ((s, d) =>
      docs(s, d)
        .select(col("source"), md5(col("text")).as("h"))
        .groupBy(col("source"), col("h"))
        .agg(count(lit(1)).cast("long").as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_distinct"),
          sum(col("c") - 1).cast("long").as("n_dup_rows"))
        .withColumn("dup_rate",
          col("n_dup_rows").cast("double") / col("n_docs").cast("double"))
        .orderBy(col("source"))),

    // Per-language lexical-richness report: token count, type count,
    // hapax-legomena count, type-token ratio, hapax share — the
    // CORPUS-level vocabulary-health profile beside the per-doc Simpson
    // diversity (a crawl whose hapax share collapses is template spam;
    // one whose TTR collapses is boilerplate). Two grouped aggregates —
    // (lang, word) counts then per-lang moments — all exact BIGINTs
    // with two final IEEE divisions; no windows, no joins, linear at
    // any corpus size.
    "t_lexical_richness" -> ((s, d) => {
      docs(s, d).select(col("lang"),
          explode(filter(TextFunctions.tokens(col("text")),
            w => length(w) > 0)).as("w"))
        .groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).cast("long").as("c"))
        .groupBy(col("lang"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          count(lit(1)).cast("long").as("n_types"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).cast("long")
            .as("n_hapax"))
        .withColumn("ttr",
          col("n_types").cast("double") / col("n_tokens").cast("double"))
        .withColumn("hapax_share",
          col("n_hapax").cast("double") / col("n_types").cast("double"))
        .orderBy(col("lang"))
    }),

    // Per-source RANK normalization of the classifier score — the
    // curation trick that makes one global threshold fair across
    // sources with different score distributions (a 60th-percentile
    // academic page and a 60th-percentile forum post both survive a
    // "top half per source" cut). percent_rank over a SOURCE-partitioned
    // window with a full (score, doc_id) tie order: the statistic is
    // (rank−1)/(n−1) — two integers, one division — so both engines
    // agree bitwise. One hash shuffle on the source key, no global
    // window; mega-source skew is the same per-key-sort bound as
    // t_source_cap.
    "t_quality_rank" -> ((s, d) => {
      val ws = filter(TextFunctions.tokens(col("text")),
        w => length(w) > 0)
      val score =
        lit(-800L) * size(ws).cast("long") +
          lit(3000L) * size(filter(ws,
            w => w === "the" || w === "a")).cast("long") +
          lit(60L) * col("n_chars") +
          lit(600L) * size(array_distinct(ws)).cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("score"), col("doc_id"))
      docs(s, d).select(col("doc_id"), col("source"), score.as("score"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("keep", col("pr") >= 0.5)
        .orderBy(col("source"), col("doc_id"))
    }),

    // C4/RefinedWeb-style LINE-level dedup — the TRANSFORM counterpart
    // of t_dup_spans' profile: repeated lines (boilerplate, navigation,
    // license banners) are removed EVERYWHERE except their first
    // occurrence, and each document is reassembled from its surviving
    // lines. The corpus has no newlines, so "lines" are deterministic
    // 10-token spans (span i = tokens[10i+1..10i+10]) — the same
    // fixed-window discipline as chunking. Keeper = row_number 1 over a
    // line-text-partitioned (doc_id, idx) order: ONE hash shuffle on
    // the line text (the dedup key), then one per-doc aggregate whose
    // ordered reassembly is an array_sort over doc-local rows — linear
    // at any corpus size, never pairwise. Docs that lose every line
    // survive with empty text (the doc-level drop decision belongs to
    // the quality gate downstream, not the dedupper).
    "t_line_dedup" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        filter(TextFunctions.tokens(col("text")),
          w => length(w) > 0).as("ws"))
      val lines = base.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr("(size(ws) - 1) div 10")),
          i => array_join(slice(col("ws"), i * lit(10) + 1, lit(10)),
            " ")))
          .as(Seq("idx", "line")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("line"))
        .orderBy(col("doc_id"), col("idx"))
      // Two passes on purpose: filtering rn=1 BEFORE the per-doc
      // aggregate lets Catalyst plan the keeper window as a
      // WindowGroupLimit pair (asserted in PlanAuditSpec), so each map
      // partition forwards only its per-line winner candidate and the
      // line shuffle carries ~|distinct lines|, not |occurrences|. The
      // totals side shuffles per-doc PARTIAL counts (map-combined,
      // tiny). A fused single-pass form was measured equivalent here
      // but ships every occurrence through BOTH shuffles — strictly
      // more exchange volume at corpus scale.
      val kept = lines
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("idx"), col("line")))),
            x => x("line")), " ").as("text_kept"))
      val totals = lines.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"))
      totals.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("text_kept"), lit("")).as("text_kept"))
        .orderBy(col("doc_id"))
    }),

    // The FULL curation funnel as one declarative plan: quality gate →
    // exact dedup (content-hash keeper) → near-dup clustering keeper —
    // what a training-data pipeline actually runs, end-to-end, with the
    // whole chain oracle-checked.
    "t_curation_funnel" -> ((s, d) => {
      val nt = TextFunctions.tokenCount(col("text"))
      val pr = TextFunctions.punctRatio(col("text"))
      val awl = TextFunctions.avgWordLen(col("text"))
      val quality = docs(s, d)
        .where(nt >= 5 && pr <= 0.1 && awl >= 2.0 && awl <= 10.0)
      val exact = Dedup.exactDedup(quality, "doc_id", "text")
      Dedup.nearDedupKept(exact, "doc_id", "text", threshold = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic stratified sample: k docs per language, chosen by
    // md5(doc_id) order — the data-mixing primitive of a training
    // pipeline, reproducible on any engine (no RNG, no seed drift).
    // Scale-safe: a hash-threshold pre-filter bounds each stratum's
    // window input to ~O(k) candidates (Sampling.stratifiedTopKByHash);
    // the oracle stays the plain full-window SQL the result must equal.
    "t_stratified_sample" -> ((s, d) =>
      graft.operators.Sampling
        .stratifiedTopKByHash(docs(s, d), "lang", "doc_id", k = 10)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("lang"), col("doc_id"))),

    // Vocabulary COVERAGE / OOV-rate report — the tokenizer-fit check a
    // corpus runs before training (a vocab that leaves 20% of tokens
    // out-of-vocabulary wastes sequence length on fallback bytes): per
    // doc, the fraction of token occurrences outside the top-10
    // frequency-ranked vocabulary. Vocab = one count aggregate + a
    // 10-row TakeOrdered that BROADCASTS back onto the token stream
    // (map-side null check), then one per-doc aggregate — two linear
    // passes, no data-sized join, at any corpus size.
    "t_vocab_coverage" -> ((s, d) => {
      val tok = docs(s, d).select(col("doc_id"),
        explode(filter(TextFunctions.tokens(col("text")),
          w => length(w) > 0)).as("w"))
      val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("w")).limit(10)
        .select(col("w"), lit(1L).as("_v"))
      tok.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("_v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_frac",
          col("n_oov").cast("double") / col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // Vocabulary CONCENTRATION curve — what share of all token
    // occurrences do the top-10 / top-100 / top-1000 types carry: the
    // Zipf-mass summary behind vocab-size and stopword decisions (a
    // corpus whose top-100 covers 80% tokenizes very differently from
    // one where it covers 40%). The ranked head comes from ONE
    // TakeOrdered over the vocab aggregate — no global sort — and the
    // rank window then runs on ≤1000 rows; shares are exact permille
    // floor division against the broadcast occurrence total.
    "t_ngram_coverage_curve" -> ((s, d) => {
      val tok = docs(s, d).select(
        explode(filter(TextFunctions.tokens(col("text")),
          w => length(w) > 0)).as("w"))
      val vc = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // total pass + ranked-head pass
      val total = vc.agg(sum(col("c")).cast("long").as("total_tokens"))
      val ranked = vc.orderBy(desc("c"), col("w")).limit(1000)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("c"), col("w"))).cast("long"))
      val ks = s.range(1).select(
        explode(array(lit(10L), lit(100L), lit(1000L))).as("k"))
      ranked.join(broadcast(ks), col("rn") <= col("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("c")).cast("long").as("mass"))
        .crossJoin(broadcast(total))
        .select(col("k"), col("n_terms"), col("mass"),
          col("total_tokens"),
          expr("(1000 * mass) div total_tokens").as("coverage_permille"))
        .orderBy(col("k"))
    }),

    // Corpus n-gram vocabulary: top-20 word bigrams by document frequency
    // (each doc counts a distinct bigram once) — the vocab-building scan
    // of a tokenizer-training pipeline.
    "t_top_ngrams" -> ((s, d) =>
      docs(s, d)
        .select(explode(TextFunctions.shingles(col("text"), 2)).as("ngram"))
        .groupBy(col("ngram")).agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), col("ngram")).limit(20)),

    // Zipf frequency SPECTRUM — frequency-of-frequencies over the
    // token stream in dyadic buckets (bucket k holds tokens occurring
    // 2^k..2^(k+1)−1 times): the vocabulary-mass diagnostic behind
    // min-count cutoffs — hapax/rare mass (noise, misspellings) at the
    // bottom vs stopword head mass at the top, in ~20 rows however
    // large the corpus. Same whitespace tokens as every text query,
    // the g_degree_dist dyadic-bucket discipline (binary-string length,
    // exact in both engines). Token count is the one data-sized
    // shuffle; the spectrum aggregate moves ≤~20 rows.
    "t_freq_spectrum" -> ((s, d) =>
      docs(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .where(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("c"))
        .withColumn("bucket",
          expr("cast(length(conv(c, 10, 2)) - 1 as bigint)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum(col("c")).cast("long").as("n_occurrences"),
          min(col("c")).as("min_count"), max(col("c")).as("max_count"))
        .orderBy(col("bucket"))),

    // LSH BAND sweep — price the bands×rows knob before a 100 TB
    // near-dup run: for three splits of the SAME 12-slot signature
    // (12×1 high-recall, the production 6×2, 3×4 high-precision),
    // the number of multi-occupant buckets and the exact pair bill
    // Σ n(n−1)/2 the banded self-join would verify. The signature
    // table is computed ONCE (localCheckpoint) and each config adds
    // only a narrow explode + count — no candidate join ever runs, so
    // the sweep costs a fraction of one real LSH pass. More bands ⇒
    // more collisions ⇒ the pair bill can only grow, and the 6×2 row
    // is the exact cost t_neardup_pairs pays.
    "t_lsh_band_sweep" -> ((s, d) => {
      val base = docs(s, d)
        .select(col("doc_id"),
          TextFunctions.minhashFromShingles(
            TextFunctions.shingles(col("text"), 3), 12).as("sig"))
        .localCheckpoint()
      Seq((12, 1), (6, 2), (3, 4)).map { case (b, r) =>
        base
          .select(explode(TextFunctions.lshBands(col("sig"), b, r))
            .as("band"))
          .groupBy(col("band")).agg(count(lit(1)).cast("long").as("n"))
          .agg(
            sum(when(col("n") >= 2, 1L).otherwise(0L)).cast("long")
              .as("n_buckets_multi"),
            sum(expr("n * (n - 1) div 2")).cast("long").as("pair_bill"))
          .select(lit(b.toLong).as("bands"),
            lit(r.toLong).as("rows_per_band"),
            col("n_buckets_multi"), col("pair_bill"))
      }.reduce(_ unionByName _).orderBy(desc(("bands")))
    }),

    // Jaccard-THRESHOLD sweep — the third knob of the near-dup stack
    // (after bands×rows and the temperature/gap sweeps): how many
    // verified pairs survive at 0.5 / 0.7 / 0.9, from ONE candidate
    // generation + ONE exact-Jaccard verification (threshold 0 keeps
    // every candidate; the sweep is three conditional sums over the
    // same jac column — not three LSH runs). The 0.5 row is exactly
    // t_neardup_pairs' population; kept share is an integer permille.
    // Same float-literal compare discipline as the shipped 0.5 gate —
    // both engines divide the same ints and compare the same literal.
    "t_jaccard_threshold_sweep" -> ((s, d) => {
      val pairs = Dedup.nearDupPairs(docs(s, d), "doc_id", "text",
        threshold = 0.0)
      pairs.agg(count(lit(1)).cast("long").as("n_candidates"),
          sum(when(col("jac") >= 0.5, 1L).otherwise(0L)).cast("long")
            .as("k50"),
          sum(when(col("jac") >= 0.7, 1L).otherwise(0L)).cast("long")
            .as("k70"),
          sum(when(col("jac") >= 0.9, 1L).otherwise(0L)).cast("long")
            .as("k90"))
        .select(explode(array(
          struct(lit(50L).as("threshold_pct"), col("k50").as("n_kept"),
            col("n_candidates")),
          struct(lit(70L).as("threshold_pct"), col("k70").as("n_kept"),
            col("n_candidates")),
          struct(lit(90L).as("threshold_pct"), col("k90").as("n_kept"),
            col("n_candidates")))).as("r"))
        .select(col("r.threshold_pct").as("threshold_pct"),
          col("r.n_kept").as("n_kept"),
          col("r.n_candidates").as("n_candidates"),
          when(col("r.n_candidates") > 0,
            expr("(1000 * r.n_kept) div r.n_candidates"))
            .otherwise(lit(0L)).as("kept_permille"))
        .orderBy(col("threshold_pct"))
    }),

    // Quality-score CALIBRATION — is the trained classifier score
    // predictive of an INDEPENDENT signal? Per global score quintile
    // (exact rank via the distributed prefix-sum, never a
    // single-partition window over the corpus): exact-dup share and
    // chars/doc. A well-calibrated score shows dup share falling as
    // the quintile improves — the table a curation funnel reads before
    // trusting the score as a gate. Dup membership rides an md5 key
    // (the wide text never shuffles twice); every ratio is an integer
    // permille / integer division.
    "t_quality_calibration" -> ((s, d) => {
      val ws = filter(TextFunctions.tokens(col("text")),
        w => length(w) > 0)
      val scored = docs(s, d).select(col("doc_id"),
          md5(TextFunctions.lowerUtf8(trim(col("text")))).as("h"), col("n_chars"),
          (lit(-800L) * size(ws).cast("long") +
            lit(3000L) * size(filter(ws,
              w => w === "the" || w === "a")).cast("long") +
            lit(60L) * col("n_chars") +
            lit(600L) * size(array_distinct(ws)).cast("long"))
            .as("score"))
        .localCheckpoint() // read for the rank pass AND the dup join
      val dup = scored.groupBy(col("h"))
        .agg(count(lit(1)).cast("long").as("n_copies"))
      val tot = scored.agg(count(lit(1)).cast("long").as("n_total"))
      graft.operators.TrainingMix.withRunningTotal(
          scored, Seq.empty, Seq(col("score").desc, col("doc_id")),
          lit(1L), "rnk")
        .crossJoin(broadcast(tot))
        .withColumn("quintile", expr("((rnk - 1) * 5) div n_total"))
        .join(dup, Seq("h"))
        .groupBy(col("quintile"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("n_copies") >= 2L, 1L).otherwise(0L)).cast("long")
            .as("n_dup_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .select(col("quintile"), col("n_docs"), col("n_dup_docs"),
          expr("(1000 * n_dup_docs) div n_docs").as("dup_permille"),
          expr("sum_chars div n_docs").as("chars_per_doc"))
        .orderBy(col("quintile"))
    }),

    // Multimodal frame sampling: payloads fan out to every-2nd 32-byte
    // frame; count per doc proves the generator arithmetic.
    "mm_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(s,
          Multimodal.asMedia(docs(s, d), "doc_id", "text"),
          frameBytes = 32, stride = 2)
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_frames"))
        .select(col("id").as("doc_id"), col("n_frames"))
        .orderBy(col("doc_id"))),

    // REAL image codec round-trip (javax.imageio, no external libs):
    // render an id-derived PNG per doc, decode it, halve it through the
    // raster scaler, decode again. The oracle asserts the id-derived
    // dimension formulas — decoded values only match if the codec
    // actually ran.
    "mm_png_roundtrip" -> ((s, d) =>
      Multimodal.pngRoundTrip(s, docs(s, d), "doc_id")
        .orderBy(col("doc_id"))),

    // Codec format matrix: one raster through PNG, BMP, and GIF and back
    // — dimensions must survive every container (ImageIO format dispatch
    // exercised end-to-end; id-derived contract oracle).
    "mm_format_matrix" -> ((s, d) =>
      Multimodal.formatMatrix(s, docs(s, d), "doc_id")
        .orderBy(col("doc_id"), col("fmt"))),

    // Image perceptual hash over the REAL codec path: render → PNG encode
    // → DECODE THE BYTES → 8×8 average-hash the decoded pixels. The
    // oracle rebuilds the identical pixels arithmetically from the LCG
    // closed form (A^n·s0 + B_n mod 2^64 literal table) — a green row
    // proves the ImageIO encode→decode round-trip BIT-EXACT, and the
    // hash is the image-dedup near-dup key (Hamming-banded like SimHash).
    "mm_ahash" -> ((s, d) =>
      Multimodal.imageHashes(s, docs(s, d), "doc_id")
        .orderBy(col("doc_id"))),

    // REAL audio codec round-trip (javax.sound.sampled): id-derived PCM →
    // WAV encode → decode → 2× frame-domain downsample → decode. Oracle
    // asserts the id-derived frame/rate formulas.
    "mm_wav_roundtrip" -> ((s, d) =>
      Multimodal.wavRoundTrip(s, docs(s, d), "doc_id")
        .orderBy(col("doc_id"))),

    // Audio features over DECODED samples: render id-derived WAV, decode
    // the bytes back, aggregate the signed 16-bit PCM — Σ|v|, Σv², peak,
    // zero crossings. The oracle replays the samples from the LCG closed
    // form: a green row proves the codec round-trip SAMPLE-exact.
    "mm_audio_features" -> ((s, d) =>
      Multimodal.audioFeatures(s, docs(s, d), "doc_id")
        .orderBy(col("doc_id"))),

    // Image near-dup dedup: planted duplicates (raster seed = doc_id %
    // 37), banded perceptual-hash blocking (4×16-bit pigeonhole — the
    // SimHash recipe on images), native hamming_dist verify. Oracle is
    // ALL pairs from the closed-form hashes ⇒ blocking proven lossless.
    "mm_image_neardup" -> ((s, d) =>
      Multimodal.imageNearDupPairs(s, docs(s, d), "doc_id",
          period = 37, maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // Multimodal plumbing: payload byte length through the binary column —
    // ONE projection off the scan (payload + text metadata side by side),
    // no join back to the media table.
    "mm_binary_meta" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          length(Multimodal.payloadOf(col("text"))).cast("long").as("byte_len"),
          ascii(substring(col("text"), 1, 1)).cast("long").as("first_char"))
        .orderBy(col("doc_id"))),

    // Benchmark decontamination: every 37th doc plays the eval set; the
    // rest is the training corpus. Shingle-join with the df<=50 stop-gram
    // cap, >=2 shared trigrams flags the pair.
    "t_decontam" -> ((s, d) => {
      val all = docs(s, d)
      val isEval = pmod(col("doc_id"), lit(37)) === 0
      Decontam.overlaps(all.where(!isEval), all.where(isEval),
        "doc_id", "text", n = 3, minOverlap = 2, maxShingleDf = 50L)
        .orderBy(col("train_id"), col("eval_id"))
    }),

    // Length-outlier trimming: keep docs inside their language's
    // [p10, p90] token-count band — the distribution-aware length filter
    // a curation pipeline runs instead of fixed cutoffs. Exact
    // percentiles (linear interpolation, same definition as DuckDB's
    // quantile_cont); per-language bounds broadcast.
    "t_length_trim" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n_tok"))
      val bounds = t.groupBy(col("lang")).agg(
        percentile(col("n_tok"), lit(0.1)).as("lo"),
        percentile(col("n_tok"), lit(0.9)).as("hi"))
      t.join(broadcast(bounds), Seq("lang"))
        .where(col("n_tok") >= col("lo") && col("n_tok") <= col("hi"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Incremental dedup: a new batch (every 3rd doc) deduped against the
    // existing corpus — exact content-hash anti-join, then cross-relation
    // MinHash-LSH near-dup flagging verified by exact Jaccard. The
    // recurring-ingest operation: increments dedup against the lake.
    "t_dedup_incremental" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.incrementalKept(
          all.where(pmod(col("doc_id"), lit(3)) === 0),
          all.where(pmod(col("doc_id"), lit(3)) =!= 0),
          "doc_id", "text", threshold = 0.5)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // Decontamination APPLIED: the training corpus with every flagged doc
    // anti-joined out — detect (t_decontam) composed with remove, the
    // step that actually ships. The flagged set is overlap-sized (tiny),
    // so the anti-join broadcasts.
    "t_decontam_clean" -> ((s, d) => {
      val all = docs(s, d)
      val isEval = pmod(col("doc_id"), lit(37)) === 0
      val train = all.where(!isEval)
      val flagged = Decontam.overlaps(train, all.where(isEval),
          "doc_id", "text", n = 3, minOverlap = 2, maxShingleDf = 50L)
        .select(col("train_id").as("doc_id")).distinct()
      train.join(flagged, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // BPE merge-rule induction (operators/Bpe.scala): the corpus
    // collapses to a word-frequency table, then each round is one
    // small-table aggregate + a one-row collect + a per-row fold rewrite.
    // The oracle unrolls all 8 training rounds as SQL (the g_pagerank
    // unroll pattern): symbols ride as chr(31)-wrapped strings so
    // DuckDB's left-to-right non-overlapping replace() IS the greedy
    // merge; BpeSpec additionally pins a hand-computed merge sequence.
    "t_bpe_merges" -> ((s, d) =>
      graft.operators.Bpe.topMerges(docs(s, d), "text", rounds = 8)
        .orderBy(col("merge_ix"))),

    // Tokenizer APPLICATION: encode every document with the shipped
    // merge-rule list (Bpe.defaultRules) — a pure per-row fold, zero
    // shuffle at any corpus size. The oracle replays the same greedy
    // left-to-right merges as sentinel-wrapped string rewrites generated
    // from the SAME rule literals, so both engines must agree on every
    // token boundary of every document.
    "t_bpe_encode" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          graft.operators.Bpe.encode(col("text")).as("toks"))
        .select(col("doc_id"),
          array_join(col("toks"), " ").as("bpe_text"),
          size(col("toks")).cast("long").as("n_bpe"))
        .orderBy(col("doc_id"))),

    // Token-ID encoding — the LAST tokenizer step: BPE tokens map to
    // integer ids through a frequency-ranked vocabulary (id = dense
    // order by count desc, token), and each document becomes its
    // input_ids sequence — the artifact a trainer actually loads. The
    // vocab rank is a window over the |vocabulary| aggregate (never the
    // corpus); ids ride back via one broadcastable vocab join and
    // reassemble in token order.
    "t_token_ids" -> ((s, d) => {
      val enc = docs(s, d).select(col("doc_id"),
        graft.operators.Bpe.encode(col("text")).as("toks"))
      val tok = enc.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      val vocab = tok.groupBy(col("tok"))
        .agg(count(lit(1)).as("n"))
        .withColumn("id", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("n"), col("tok"))).cast("long"))
        .select(col("tok"), col("id"))
      tok.join(broadcast(vocab), "tok")
        .groupBy(col("doc_id"))
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("id")))),
            p => p.getField("id").cast("string")), " ").as("ids"),
          count(lit(1)).as("n"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-family repetition signals, both pure per-row projections —
    // zero shuffle at any corpus size.
    // Link-graph PageRank (integer micro-units — see Graph.pagerankInt)
    // over a deterministic synthetic citation graph (each doc links to
    // (7i+1) mod N and (13i+3) mod N, self-loops dropped): the
    // importance prior web-scale curation assigns from link structure.
    // The oracle unrolls all three iterations as SQL, bit-for-bit.
    "g_pagerank" -> ((s, d) => {
      val dd = docs(s, d)
      val withN = dd.select(col("doc_id"))
        .crossJoin(broadcast(dd.agg(count(lit(1)).as("nn"))))
      val edges = withN.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 7 + 1, col("nn")).as("dst"))
        .unionByName(withN.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 13 + 3, col("nn")).as("dst")))
        .where(col("src") =!= col("dst"))
      Graph.pagerankInt(edges, dd.select(col("doc_id").as("id")),
          iters = 3)
        .orderBy(col("id"))
    }),

    // Multi-source BFS over the same citation graph: hop distance from
    // the seed set (every 97th doc), 4 bounded frontier expansions —
    // reachability-with-distance (Graph.bfsHops). The oracle unrolls
    // every round; rows absent = unreached within 4 hops.
    "g_bfs_hops" -> ((s, d) => {
      val dd = docs(s, d)
      val withN = dd.select(col("doc_id"))
        .crossJoin(broadcast(dd.agg(count(lit(1)).as("nn"))))
      val edges = withN.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 7 + 1, col("nn")).as("dst"))
        .unionByName(withN.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 13 + 3, col("nn")).as("dst")))
        .where(col("src") =!= col("dst"))
      Graph.bfsHops(edges,
          dd.where(pmod(col("doc_id"), lit(97)) === 0)
            .select(col("doc_id").as("id")),
          rounds = 4)
        .orderBy(col("id"))
    }),

    // PERSONALIZED PageRank over the same citation graph: restart mass
    // returns only to the seed set (every 101st doc), so rank measures
    // proximity-weighted importance RELATIVE to the seeds — the
    // "documents like these trusted ones" quality-prior propagation
    // (Graph.personalizedPagerankInt). Same integer micro-unit
    // discipline as g_pagerank; the oracle unrolls all three rounds
    // with the seed-gated restart term.
    "g_ppr" -> ((s, d) => {
      val dd = docs(s, d)
      val withN = dd.select(col("doc_id"))
        .crossJoin(broadcast(dd.agg(count(lit(1)).as("nn"))))
      val edges = withN.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 7 + 1, col("nn")).as("dst"))
        .unionByName(withN.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 13 + 3, col("nn")).as("dst")))
        .where(col("src") =!= col("dst"))
      Graph.personalizedPagerankInt(edges,
          dd.select(col("doc_id").as("id")),
          dd.where(pmod(col("doc_id"), lit(101)) === 0)
            .select(col("doc_id").as("id")),
          iters = 3)
        .orderBy(col("id"))
    }),

    "t_repetition" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextFunctions.dupTokenFrac(col("text")).as("dup_token_frac"),
        TextFunctions.topNgramFrac(col("text"), 2).as("top_bigram_frac"))
        .orderBy(col("doc_id"))),

    // PII detect + redact. The synthetic corpus carries no PII, so every
    // 7th doc gets a deterministic planted email+phone suffix — the scrub
    // then has real work whose counts and redacted lengths the oracle
    // reproduces exactly.
    // PII DISCOVERY scan — the lake-wide "where does PII live" report
    // that decides which columns need t_pii_scrub's redaction: for each
    // (table, column) pair, rows containing email/phone patterns. One
    // aggregate pass per column, patterns shared verbatim with the
    // scrub (and with the oracle). documents.text carries the same
    // planted PII as t_pii_scrub so the scanner has true positives;
    // the name columns prove true negatives.
    "dq_pii_scan" -> ((s, d) => {
      def scan(df: DataFrame, table: String, column: String,
               c: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).as("n_rows"),
          sum(when(TextFunctions.piiCount(TextFunctions.lowerUtf8(c),
            TextFunctions.EmailRegex) > 0, 1L).otherwise(0L))
            .as("email_rows"),
          sum(when(TextFunctions.piiCount(TextFunctions.lowerUtf8(c),
            TextFunctions.PhoneRegex) > 0, 1L).otherwise(0L))
            .as("phone_rows"))
          .select(lit(table).as("tbl"), lit(column).as("col"),
            col("n_rows"), col("email_rows"), col("phone_rows"))
      val planted = when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"),
          lit("@example.com or 555-123-4567")))
        .otherwise(col("text"))
      scan(docs(s, d), "documents", "text", planted)
        .unionByName(scan(Tables.load(s, d, "customer"),
          "customer", "c_name", col("c_name")))
        .unionByName(scan(Tables.load(s, d, "part"),
          "part", "p_name", col("p_name")))
        .orderBy(col("tbl"))
    }),

    "t_pii_scrub" -> ((s, d) => {
      val planted = when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-123-4567")))
        .otherwise(col("text"))
      docs(s, d).select(col("doc_id"),
        TextFunctions.piiCount(planted, TextFunctions.EmailRegex)
          .as("n_emails"),
        TextFunctions.piiCount(planted, TextFunctions.PhoneRegex)
          .as("n_phones"),
        length(TextFunctions.redactPii(planted)).cast("long")
          .as("redacted_len"))
        .orderBy(col("doc_id"))
    }),

    // PII: payment-card detection with a LUHN checksum gate — a bare
    // 16-digit regex drowns in false positives (order ids, timestamps);
    // the mod-10 check is what separates "digits" from "card". Every
    // 11th doc gets a planted VALID test card, every 13th an INVALID
    // 16-digit run, so both sides of the gate are exercised. The
    // checksum is an integer fold over the digit array (codegen'd
    // higher-order functions, no UDF); one aggregate pass, zero shuffle.
    "dq_pii_luhn" -> ((s, d) => {
      val planted = concat(col("text"),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit(" pay 4532015112830366 now")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 0,
          lit(" ref 1234567890123456 x")).otherwise(lit("")))
      val cards = regexp_extract_all(planted, lit("[0-9]{16}"), lit(0))
      def luhnValid(c: org.apache.spark.sql.Column) = pmod(
        aggregate(sequence(lit(1), lit(16)), lit(0), (acc, i) => {
          val dd = element_at(split(c, ""), i).cast("int")
          acc + when(pmod(i, lit(2)) === 1,
            when(dd * 2 > 9, dd * 2 - 9).otherwise(dd * 2)).otherwise(dd)
        }), lit(10)) === 0
      val valids = filter(cards, c => luhnValid(c))
      docs(s, d)
        .select(size(cards).as("nc"), size(valids).as("nv"))
        .agg(sum(when(col("nc") > 0, 1L).otherwise(0L))
            .cast("long").as("docs_with_card"),
          sum(col("nc")).cast("long").as("n_cards"),
          sum(col("nv")).cast("long").as("n_valid"),
          sum(when(col("nv") > 0, 1L).otherwise(0L))
            .cast("long").as("docs_with_valid"))
    }),

    // Near-dedup keeping the BEST-quality doc per cluster (ties → min id)
    // instead of the min id — quality formula shared with t_quality_score.
    "t_neardup_best" -> ((s, d) => {
      val nt = TextFunctions.tokenCount(col("text"))
      val pr = TextFunctions.punctRatio(col("text"))
      val awl = TextFunctions.avgWordLen(col("text"))
      val quality =
        lit(0.5) * (least(nt, lit(100L)).cast("double") / lit(100.0)) +
          lit(0.3) * (lit(1.0) - pr) +
          lit(0.2) * (least(awl, lit(10.0)) / lit(10.0))
      Dedup.nearDedupKeptBest(docs(s, d), "doc_id", "text", 0.5, quality)
        .select(col("doc_id")).orderBy(col("doc_id"))
    })
  )

  // private[graft] (not [queries]): graft.DedupSlice emits the
  // partitioned-oracle SQL for t_dedup_savings from these same
  // literals, so slice oracle and registered oracle can never drift.
  private[graft] val wsSql = """string_split_regex(lower(trim(text)),'\s+')"""

  /** Sentinel-wrapped greedy BPE replay generated from Bpe.defaultRules —
    * yields `doc_id, bpe_text` (space-joined tokens); shared by the
    * encode and token-id oracles. Symbols ride as chr(2)<sym>chr(3) so a
    * replace can never match across a symbol boundary; each rule is one
    * global replace (the same left-to-right non-overlapping pass as the
    * engine's aggregate fold).
    */
  private[queries] val bpeEncCte: String = {
    def w(sym: String) = s"chr(2)||'$sym'||chr(3)"
    val seed = s"""array_to_string(list_transform(list_filter($wsSql, x -> length(x) > 0), w -> array_to_string(list_transform(string_split(w, ''), c -> chr(2)||c||chr(3)), '') || ${w("</w>")}), '')"""
    val folded = graft.operators.Bpe.defaultRules.foldLeft(seed) {
      case (acc, (a, b)) =>
        s"replace($acc, ${w(a)}||${w(b)}, ${w(a + b)})"
    }
    s"""raw_enc AS (SELECT doc_id, $folded AS enc FROM documents),
       |benc AS (SELECT doc_id,
       |  trim(replace(enc, chr(3)||chr(2), ' '), chr(2)||chr(3))
       |    AS bpe_text,
       |  CAST(length(enc) - length(replace(enc, chr(2), '')) AS BIGINT)
       |    AS n_bpe
       |  FROM raw_enc)""".stripMargin
  }
  private[queries] val sh3Sql =
    s"""list_distinct(list_transform(range(1, greatest(len(ws)-2,1)+1),
       | i -> array_to_string(ws[i:i+2],' ')))""".stripMargin

  /** CTE chain through the 12-slot MinHash signature (`sig`) over a
    * source relation: shingles → 12-slot MinHash (Kirsch–Mitzenmacher
    * double hashing, one md5 per shingle, slot i = min (h1 + i·h2) mod
    * 2^30 — digit-for-digit the Spark construction: h1/h2 are the hex
    * halves at positions 1-12 / 13-24, most-significant first, summed
    * exactly below 2^53 so the DOUBLE powers are lossless). Shared by
    * the banded-pair chain below and the band-sweep pricing query.
    */
  private[queries] def minhashSigCtes(src: String): String =
    s"""w AS (SELECT doc_id, $wsSql AS ws FROM $src),
       |shs AS (SELECT doc_id, $sh3Sql AS sh FROM w),
       |hx AS (SELECT doc_id, md5(s) AS h
       |  FROM (SELECT doc_id, unnest(sh) AS s FROM shs)),
       |hp AS (SELECT doc_id,
       |  CAST((SELECT sum((strpos('0123456789abcdef', substr(h,p.i,1))-1)
       |    *power(16,12-p.i)) FROM generate_series(1,12) p(i)) AS BIGINT)
       |    % 1073741824 AS h1,
       |  CAST((SELECT sum((strpos('0123456789abcdef', substr(h,12+p.i,1))-1)
       |    *power(16,12-p.i)) FROM generate_series(1,12) p(i)) AS BIGINT)
       |    % 1073741824 AS h2
       |  FROM hx),
       |sl AS (SELECT doc_id, t.i, min((h1 + t.i*h2) % 1073741824) AS v
       |  FROM hp, generate_series(0,11) t(i) GROUP BY 1,2),
       |sig AS (SELECT doc_id, list(v ORDER BY i) AS sg FROM sl GROUP BY 1)""".stripMargin

  /** Signature CTEs extended with the production 6-band × 2-slot
    * banding (`bands`) — the near-dup candidate generator's split.
    */
  private[graft] def minhashBandCtes(src: String): String =
    s"""${minhashSigCtes(src)},
       |bands AS (SELECT doc_id, unnest(list_transform(range(0,6),
       |  j -> concat(j, '|', sg[2*j+1], '|', sg[2*j+2]))) AS bv FROM sig)""".stripMargin

  /** The candidate + exact-jaccard CTEs (`cand`, `j`) shared by the
    * registered near-dup oracles and [[graft.DedupSlice]]'s
    * bucket-sliced oracle (round-15 advice fix). One literal, two
    * consumers — an edit here reaches both, so the slice oracle can
    * never silently drift from the registered one.
    *
    * `bucket = None` is the registered full form: `a.doc_id<b.doc_id`
    * canonicalizes each pair once. `bucket = Some((k, b))` restricts
    * the candidate generator's a-side to `doc_id % k = b` — the a-side
    * must then range over BOTH orientations (`<>` plus
    * least/greatest) so every pair touching the bucket survives even
    * when the bucketed doc holds the larger id.
    */
  private[graft] def neardupCandJCtes(bucket: Option[(Int, Long)]): String = {
    val cand = bucket match {
      case None =>
        """cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM bands a JOIN bands b ON a.bv=b.bv AND a.doc_id<b.doc_id)""".stripMargin
      case Some((k, b)) =>
        s"""cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
           |  greatest(a.doc_id, b.doc_id) AS id_b
           |  FROM bands a JOIN bands b
           |    ON a.bv = b.bv AND a.doc_id <> b.doc_id
           |  WHERE a.doc_id % $k = $b)""".stripMargin
    }
    s"""$cand,
       |j AS (SELECT id_a, id_b,
       |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |    /(len(x.sh)+len(y.sh)-len(list_intersect(x.sh,y.sh))) AS jac
       |  FROM cand JOIN shs x ON cand.id_a=x.doc_id JOIN shs y ON cand.id_b=y.doc_id)""".stripMargin
  }

  private[queries] def neardupPairCtesFrom(src: String): String =
    s"""${minhashBandCtes(src)},
       |${neardupCandJCtes(None)}""".stripMargin

  // Char-trigram language-ID oracle, generated from the SAME profile
  // literals the Spark side uses so the two can never drift.
  private val ngramScoreSql = TextFunctions.charTrigrams.map {
    case (lang, grams) =>
      grams.map(g => s"CAST(contains(lower(text),'$g') AS BIGINT)")
        .mkString(" + ") + s" AS s_$lang"
  }.mkString(",\n")
  private val ngramCaseSql = TextFunctions.charTrigrams.init.map {
    case (lang, _) => s"WHEN s_$lang=mx THEN '$lang'"
  }.mkString(" ")
  private val ngramGreatestSql =
    TextFunctions.charTrigrams.map { case (lang, _) => s"s_$lang" }
      .mkString("greatest(", ",", ")")

  // 64-bit SimHash oracle: bit b comes from hex digit (b-1)/4+1 of
  // md5(word), masked at 8/4/2/1 (high bit first) — digit-for-digit the
  // same decomposition as TextFunctions.simhash64.
  private val simhashSums = (1 to TextFunctions.SimhashBits)
    .map { b =>
      val dpos = (b - 1) / 4 + 1
      val mask = 1 << (3 - (b - 1) % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(word),$dpos,1))-1) & $mask) <> 0 THEN 1 ELSE -1 END) AS s$b"
    }
    .mkString(", ")
  private val simhashBits = (1 to TextFunctions.SimhashBits)
    .map(b => s"CASE WHEN s$b>0 THEN '1' ELSE '0' END")
    .mkString(" || ")

  /** mm_ahash oracle: reconstruct the rendered pixels ARITHMETICALLY from
    * the LCG closed form — pixel n of seed s0 is ((A^(n+1)·s0 + B_(n+1))
    * mod 2^64) >> 24 & 0xffffff, with the A-power/B-sum table emitted as
    * literals from the SAME constants the renderer uses — then replay the
    * integer-exact 8×8 average hash. Matching the Spark side (which
    * hashes pixels DECODED from real PNG bytes) proves the codec
    * round-trip bit-exact.
    */
  /** LCG A-power/B-sum literal table: row n holds (A^(n+1) mod 2^64,
    * B_(n+1) mod 2^64) so the n-th generated value of seed s0 is
    * `ap·s0 + bs mod 2^64` — the closed form of the renderer's LCG,
    * emitted from the SAME constants it uses.
    */
  private def lcgConsts(count: Int): String = {
    val A = BigInt("6364136223846793005")
    val C = BigInt("1442695040888963407")
    val M = BigInt(2).pow(64)
    Iterator.iterate((A % M, C % M)) { case (ap, bs) =>
      ((ap * A) % M, (bs * A + C) % M)
    }.take(count).zipWithIndex
      .map { case ((ap, bs), n) => s"($n,$ap,$bs)" }.mkString(",")
  }

  /** CTE chain ending in `hh(doc_id, ahash)`: per-doc 8×8 average hash of
    * the raster rendered from seed `keyExpr` (dimensions also derived
    * from the key), replayed arithmetically — no codec on the oracle side.
    */
  private def ahashCte(keyExpr: String): String = {
    s"""consts(n, ap, bs) AS (SELECT * FROM (VALUES ${lcgConsts(23 * 15)}) t(n, ap, bs)),
       |d AS (SELECT doc_id, CAST($keyExpr AS BIGINT) AS k FROM documents),
       |dd AS (SELECT doc_id, k, CAST(8+k%16 AS BIGINT) AS w,
       |  CAST(8+k%8 AS BIGINT) AS h FROM d),
       |px AS (SELECT doc_id, w, h, n,
       |  CAST(((ap*k + bs) % 18446744073709551616) // 16777216
       |    % 16777216 AS BIGINT) AS p
       |  FROM dd JOIN consts ON consts.n < dd.w*dd.h),
       |gr AS (SELECT doc_id,
       |  ((p//65536)%256 + (p//256)%256 + p%256)//3 AS gray,
       |  ((n//w)*8//h)*8 + ((n%w)*8)//w AS cell FROM px),
       |cells AS (SELECT doc_id, cell, sum(gray) AS cs, count(*) AS cc
       |  FROM gr GROUP BY 1, 2),
       |tot AS (SELECT doc_id, sum(gray) AS ts, count(*) AS tc
       |  FROM gr GROUP BY 1),
       |bits AS (SELECT c.doc_id, c.cell,
       |  CASE WHEN c.cs*t.tc > t.ts*c.cc THEN '1' ELSE '0' END AS b
       |  FROM cells c JOIN tot t USING (doc_id)),
       |hh AS (SELECT doc_id, string_agg(b, '' ORDER BY cell) AS ahash
       |  FROM bits GROUP BY doc_id)""".stripMargin
  }

  private def ahashOracle: String =
    s"""WITH ${ahashCte("doc_id")}
       |SELECT doc_id, ahash FROM hh ORDER BY doc_id""".stripMargin

  /** mm_image_neardup oracle: ALL-pairs Hamming over the closed-form
    * hashes (seed = doc_id % 37, the planted-duplicate key) — the
    * blocking-free ground truth that proves the Spark side's banded
    * candidate generation lossless.
    */
  private def imageNearDupOracle: String =
    s"""WITH ${ahashCte("doc_id % 37")},
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  a.ahash AS ha, b.ahash AS hb
       |  FROM hh a JOIN hh b ON a.doc_id < b.doc_id),
       |pos AS (SELECT unnest(range(1, 65)) AS i),
       |dist AS (SELECT id_a, id_b,
       |  sum(CASE WHEN substr(ha, i, 1) <> substr(hb, i, 1)
       |    THEN 1 ELSE 0 END) AS hamming
       |  FROM pairs CROSS JOIN pos GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
       |FROM dist WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin

  /** mm_audio_features oracle: replay the PCM samples from the LCG closed
    * form (value n of seed doc_id = top 16 bits of ap·doc_id + bs,
    * re-signed), then aggregate the identical integer features. The Spark
    * side decodes REAL WAV bytes — agreement proves the audio codec
    * round-trip sample-exact.
    */
  private def audioFeaturesOracle: String =
    s"""WITH consts(n, ap, bs) AS (SELECT * FROM (VALUES ${lcgConsts(128)}) t(n, ap, bs)),
       |d AS (SELECT doc_id, CAST(64+doc_id%64 AS BIGINT) AS nf FROM documents),
       |smp AS (SELECT doc_id, n,
       |  CAST(((ap*doc_id + bs) % 18446744073709551616)
       |    // 281474976710656 AS BIGINT) AS u
       |  FROM d JOIN consts ON consts.n < d.nf),
       |sv AS (SELECT doc_id, n,
       |  CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM smp),
       |zcv AS (SELECT doc_id, n, v,
       |  lag(v) OVER (PARTITION BY doc_id ORDER BY n) AS pv FROM sv)
       |SELECT doc_id, count(*) AS n_frames,
       |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
       |  CAST(sum(v*v) AS BIGINT) AS energy,
       |  CAST(max(abs(v)) AS BIGINT) AS peak,
       |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv<0) <> (v<0))
       |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
       |FROM zcv GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private lazy val driftLangStreamOracle: String =
    driftLangOracle
      .replace("WHERE doc_id % 2 = 0", "WHERE doc_id % 2 = 0 AND lang IS NOT NULL")
      .replace("WHERE doc_id % 2 = 1", "WHERE doc_id % 2 = 1 AND lang IS NOT NULL")

  private lazy val driftLangOracle: String =
    """WITH a AS (SELECT lang AS cat FROM documents WHERE doc_id % 2 = 0),
      |b AS (SELECT lang AS cat FROM documents WHERE doc_id % 2 = 1),
      |ca AS (SELECT cat, count(*) AS n_a FROM a GROUP BY 1),
      |cb AS (SELECT cat, count(*) AS n_b FROM b GROUP BY 1),
      |j AS (SELECT coalesce(ca.n_a, 0) AS n_a, coalesce(cb.n_b, 0) AS n_b
      |  FROM ca FULL OUTER JOIN cb ON ca.cat = cb.cat),
      |t AS (SELECT (SELECT count(*) FROM a) AS ta,
      |             (SELECT count(*) FROM b) AS tb)
      |SELECT ta AS n_a, tb AS n_b,
      |  count(*) AS n_categories,
      |  CAST(sum(CASE WHEN abs(j.n_a*tb - j.n_b*ta) > 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_diverged,
      |  CAST(sum(abs(j.n_a*tb - j.n_b*ta)) AS DOUBLE)/(2*ta*tb) AS tvd
      |FROM j CROSS JOIN t GROUP BY ta, tb""".stripMargin

  private lazy val dupRateOracle: String =
    """WITH g AS (SELECT md5(text) AS h, count(*) AS n
      |  FROM documents GROUP BY 1)
      |SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS dup_docs,
      |  CAST(sum(n - 1) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS dup_rate
      |FROM g""".stripMargin

  val oracles: Map[String, String] = Map(
    "t_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS dup_cnt, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_dedup_kept" ->
      """SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        |ORDER BY 1""".stripMargin,
    "t_dedup_bloom_stream" ->
      """WITH seen AS (SELECT text FROM documents
        |  WHERE doc_id % 3 IN (0, 1) AND text IS NOT NULL),
        |bits AS (SELECT DISTINCT b FROM (
        |  SELECT CAST('0x' || substr(md5(text), 1, 6) AS BIGINT) % 4096
        |    AS b FROM seen
        |  UNION ALL
        |  SELECT CAST('0x' || substr(md5(text), 7, 6) AS BIGINT) % 4096
        |    FROM seen) u),
        |p AS (SELECT doc_id,
        |  CAST('0x' || substr(md5(text), 1, 6) AS BIGINT) % 4096 AS b1,
        |  CAST('0x' || substr(md5(text), 7, 6) AS BIGINT) % 4096 AS b2
        |  FROM documents WHERE doc_id % 3 = 2 AND text IS NOT NULL)
        |SELECT doc_id,
        |  b1 IN (SELECT b FROM bits) AND b2 IN (SELECT b FROM bits)
        |    AS bloom_positive
        |FROM p ORDER BY doc_id""".stripMargin,
    "t_dup_rate" -> dupRateOracle,
    // The streamed face reuses the batch oracle VERBATIM: additive hash
    // counts + the shared report kernel make streamed ≡ batch on any
    // batching (and on any compaction point).
    "t_dup_rate_stream" -> dupRateOracle,
    "t_text_stats" ->
      s"""WITH w AS (SELECT doc_id, text, $wsSql AS ws FROM documents)
         |SELECT doc_id,
         |CASE WHEN length(trim(text))=0 THEN 0 ELSE len(ws) END AS n_tokens,
         |CAST(len(list_filter(ws, x -> x IN ('the','a'))) AS DOUBLE)/len(ws) AS stop_ratio,
         |CAST(length(regexp_replace(text,'\\s','','g')) AS DOUBLE)/len(ws) AS avg_word_len,
         |CAST(length(regexp_replace(text,'[^.,!?;:]','','g')) AS DOUBLE)/length(text) AS punct_ratio
         |FROM w ORDER BY doc_id""".stripMargin,
    "t_tokenizer_fertility" ->
      s"""WITH w AS (SELECT lang, n_chars,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($wsSql) END AS nt
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS chars,
         |  (1000 * CAST(sum(nt) AS BIGINT)) // CAST(sum(n_chars) AS BIGINT)
         |    AS tokens_per_kchar
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_lang_id" ->
      s"""WITH w AS (SELECT doc_id, list_distinct($wsSql) AS dw FROM documents),
         |s AS (SELECT doc_id,
         | len(list_intersect(dw, ['the','and','of','is','to'])) AS s_en,
         | len(list_intersect(dw, ['der','die','und','das','ist'])) AS s_de,
         | len(list_intersect(dw, ['el','la','de','que','los'])) AS s_es,
         | len(list_intersect(dw, ['le','les','des','et','est'])) AS s_fr,
         | len(list_intersect(dw, ['de5','shi4','le5','zai4','he2'])) AS s_zh
         | FROM w)
         |SELECT doc_id, CASE WHEN s_en=mx THEN 'en' WHEN s_de=mx THEN 'de'
         | WHEN s_es=mx THEN 'es' WHEN s_fr=mx THEN 'fr' ELSE 'zh' END AS lang_pred
         |FROM (SELECT *, greatest(s_en,s_de,s_es,s_fr,s_zh) AS mx FROM s)
         |ORDER BY doc_id""".stripMargin,
    "t_lang_confusion" ->
      s"""WITH w AS (SELECT doc_id, lang, list_distinct($wsSql) AS dw
         |  FROM documents),
         |s AS (SELECT doc_id, lang,
         | len(list_intersect(dw, ['the','and','of','is','to'])) AS s_en,
         | len(list_intersect(dw, ['der','die','und','das','ist'])) AS s_de,
         | len(list_intersect(dw, ['el','la','de','que','los'])) AS s_es,
         | len(list_intersect(dw, ['le','les','des','et','est'])) AS s_fr,
         | len(list_intersect(dw, ['de5','shi4','le5','zai4','he2'])) AS s_zh
         | FROM w),
         |p AS (SELECT lang, CASE WHEN s_en=mx THEN 'en' WHEN s_de=mx THEN 'de'
         | WHEN s_es=mx THEN 'es' WHEN s_fr=mx THEN 'fr' ELSE 'zh' END
         |   AS lang_pred
         | FROM (SELECT *, greatest(s_en,s_de,s_es,s_fr,s_zh) AS mx FROM s))
         |SELECT lang, lang_pred, count(*) AS n FROM p
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_langid_prf" ->
      s"""WITH w AS (SELECT doc_id, lang, list_distinct($wsSql) AS dw
         |  FROM documents),
         |s AS (SELECT doc_id, lang,
         | len(list_intersect(dw, ['the','and','of','is','to'])) AS s_en,
         | len(list_intersect(dw, ['der','die','und','das','ist'])) AS s_de,
         | len(list_intersect(dw, ['el','la','de','que','los'])) AS s_es,
         | len(list_intersect(dw, ['le','les','des','et','est'])) AS s_fr,
         | len(list_intersect(dw, ['de5','shi4','le5','zai4','he2'])) AS s_zh
         | FROM w),
         |p AS (SELECT lang, CASE WHEN s_en=mx THEN 'en' WHEN s_de=mx THEN 'de'
         | WHEN s_es=mx THEN 'es' WHEN s_fr=mx THEN 'fr' ELSE 'zh' END
         |   AS pred
         | FROM (SELECT *, greatest(s_en,s_de,s_es,s_fr,s_zh) AS mx FROM s)),
         |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_actual,
         |  CAST(sum(CASE WHEN lang = pred THEN 1 ELSE 0 END) AS BIGINT)
         |    AS tp FROM p GROUP BY 1),
         |b AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_pred
         |  FROM p GROUP BY 1)
         |SELECT coalesce(a.lang, b.pred) AS cls,
         |  CAST(coalesce(a.n_actual, 0) AS BIGINT) AS n_actual,
         |  CAST(coalesce(b.n_pred, 0) AS BIGINT) AS n_pred,
         |  CAST(coalesce(a.tp, 0) AS BIGINT) AS tp,
         |  CASE WHEN coalesce(b.n_pred, 0) > 0 THEN
         |    CAST(coalesce(a.tp, 0) AS DOUBLE) / CAST(b.n_pred AS DOUBLE)
         |  END AS prec,
         |  CASE WHEN coalesce(a.n_actual, 0) > 0 THEN
         |    CAST(a.tp AS DOUBLE) / CAST(a.n_actual AS DOUBLE)
         |  END AS rec,
         |  CASE WHEN coalesce(a.n_actual, 0) + coalesce(b.n_pred, 0) > 0
         |    THEN CAST(2 * coalesce(a.tp, 0) AS DOUBLE)
         |      / CAST(coalesce(a.n_actual, 0) + coalesce(b.n_pred, 0)
         |             AS DOUBLE)
         |  END AS f1
         |FROM a FULL JOIN b ON a.lang = b.pred ORDER BY 1""".stripMargin,
    "t_langid_margin" -> {
      val unpivot = TextFunctions.charTrigrams.map { case (lang, _) =>
        s"SELECT doc_id, '$lang' AS lang, s_$lang AS score FROM s"
      }.mkString("\nUNION ALL ")
      s"""WITH s AS (SELECT doc_id, $ngramScoreSql FROM documents),
         |u AS ($unpivot),
         |r AS (SELECT doc_id, lang, score, row_number() OVER
         |  (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
         |  FROM u),
         |p AS (SELECT a.doc_id, a.lang AS lang_pred,
         |  a.score - b.score AS margin
         |  FROM r a JOIN r b ON a.doc_id = b.doc_id
         |  WHERE a.rn = 1 AND b.rn = 2)
         |SELECT lang_pred,
         |  CASE WHEN margin = 0 THEN '0_tie' WHEN margin = 1 THEN '1'
         |    WHEN margin = 2 THEN '2' ELSE '3+' END AS band,
         |  count(*) AS n_docs
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "t_lang_id_ngram" ->
      s"""WITH s AS (SELECT doc_id, $ngramScoreSql FROM documents)
         |SELECT doc_id, CASE $ngramCaseSql
         |  ELSE '${TextFunctions.charTrigrams.last._1}' END AS lang_pred
         |FROM (SELECT *, $ngramGreatestSql AS mx FROM s)
         |ORDER BY doc_id""".stripMargin,
    "t_bpe_encode" ->
      s"""WITH $bpeEncCte
         |SELECT doc_id, bpe_text, n_bpe FROM benc ORDER BY doc_id""".stripMargin,
    "t_bpe_merges" -> {
      // Unrolled BPE TRAINING rounds. Each word is a chr(31)-wrapped
      // symbol string ("ab..."): adjacent pairs
      // split back out on the doubled sentinel, the round's argmax pair
      // (weight desc, then lexicographic — Bpe.topMerges' tie-break)
      // rewrites every word via replace(), whose left-to-right
      // non-overlapping semantics equal the greedy merge fold. Every
      // w$r has two consumers (next round's pairs + rewrite) —
      // MATERIALIZED stops 2^rounds inlining (the k-core gotcha).
      val U = "chr(31)"
      val rounds = (1 to 8).map { r =>
        val p = s"w${r - 1}"
        s"""l$r AS (SELECT string_split(substr(s, 2, length(s)-2),
           |    $U||$U) AS ls, freq FROM $p),
           |p$r AS MATERIALIZED (SELECT struct_extract(pr,'a') AS a,
           |    struct_extract(pr,'b') AS b,
           |    CAST(sum(freq) AS BIGINT) AS wt
           |  FROM (SELECT freq, unnest(list_transform(range(1, len(ls)),
           |    i -> struct_pack(a := ls[i], b := ls[i+1]))) AS pr
           |    FROM l$r)
           |  GROUP BY 1, 2),
           |b$r AS MATERIALIZED (SELECT a, b, wt FROM p$r
           |  ORDER BY wt DESC, a, b LIMIT 1),
           |w$r AS MATERIALIZED (SELECT
           |    replace(s, $U||a||$U||$U||b||$U, $U||a||b||$U) AS s, freq
           |  FROM $p, b$r)""".stripMargin
      }.mkString(",\n")
      val un = (1 to 8).map(r =>
        s"SELECT CAST($r AS INT) AS merge_ix, a, b, wt FROM b$r")
        .mkString("\nUNION ALL ")
      s"""WITH wt0 AS (SELECT w, count(*) AS freq FROM
         |    (SELECT unnest($wsSql) AS w FROM documents)
         |  WHERE length(w) > 0 GROUP BY w),
         |w0 AS MATERIALIZED (SELECT array_to_string(
         |    list_transform(range(1, length(w)+1),
         |      i -> $U||substr(w,i,1)||$U), '')
         |    || $U||'</w>'||$U AS s, freq FROM wt0),
         |$rounds
         |SELECT merge_ix, a AS "left", b AS "right", wt AS weight
         |FROM ($un) ORDER BY merge_ix""".stripMargin
    },
    "t_token_ids" ->
      s"""WITH $bpeEncCte,
         |lists AS (SELECT doc_id, string_split(bpe_text, ' ') AS l
         |  FROM benc),
         |ix AS (SELECT doc_id, unnest(range(1, len(l)+1)) AS i, l
         |  FROM lists),
         |tk AS (SELECT doc_id, i, l[i] AS tok FROM ix),
         |vocab AS (SELECT tok, row_number() OVER
         |    (ORDER BY count(*) DESC, tok) AS id
         |  FROM tk GROUP BY tok)
         |SELECT tk.doc_id,
         |  array_to_string(list(CAST(v.id AS VARCHAR) ORDER BY tk.i), ' ')
         |    AS ids,
         |  count(*) AS n
         |FROM tk JOIN vocab v USING (tok)
         |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin,
    "t_fingerprint" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents)
         |SELECT doc_id, list_aggregate(list_transform(
         |  list_distinct(list_transform(range(1, greatest(len(ws)-4,1)+1),
         |    i -> array_to_string(ws[i:i+4],' '))), x -> md5(x)), 'min') AS fp
         |FROM w ORDER BY doc_id""".stripMargin,
    "t_winnow_fp" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter($wsSql, t -> length(t)>0) AS ws FROM documents),
         |g AS (SELECT doc_id,
         |  list_transform(range(1, greatest(len(ws)-2,1)+1),
         |    i -> md5(array_to_string(ws[i:i+2],' '))) AS gs FROM w),
         |f AS (SELECT doc_id, list_distinct(list_transform(
         |  range(1, greatest(len(gs)-3,1)+1),
         |  j -> list_aggregate(gs[j:j+3], 'min'))) AS fps FROM g)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
         |  list_aggregate(fps, 'min') AS fp_min,
         |  list_aggregate(fps, 'max') AS fp_max
         |FROM f ORDER BY doc_id""".stripMargin,
    "t_containment" ->
      s"""WITH w AS (SELECT doc_id, lang, source, $wsSql AS ws
         |  FROM documents),
         |shs AS (SELECT doc_id, lang, source, $sh3Sql AS sh FROM w),
         |p AS (SELECT a.doc_id AS id_in, b.doc_id AS id_out,
         |  len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la
         |  FROM shs a JOIN shs b ON a.lang=b.lang AND a.source=b.source
         |    AND a.doc_id<>b.doc_id)
         |SELECT id_in, id_out, CAST(i AS DOUBLE)/la AS containment
         |FROM p WHERE i*100 >= 50*la ORDER BY 1, 2""".stripMargin,
    "t_tokens_regex" -> {
      val pat = "''(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+|\\s+"
      s"""WITH w AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN 0
         |    ELSE len($wsSql) END AS n_ws,
         |  len(regexp_extract_all(lower(text), '$pat')) AS n_bpe
         |  FROM documents)
         |SELECT doc_id, CAST(n_ws AS BIGINT) AS n_ws,
         |  CAST(n_bpe AS BIGINT) AS n_bpe,
         |  CASE WHEN n_ws=0 THEN CAST(0 AS DOUBLE)
         |    ELSE CAST(n_bpe AS DOUBLE)/n_ws END AS bpe_per_word
         |FROM w ORDER BY doc_id""".stripMargin
    },
    "t_containment_scaled" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter($wsSql, t -> length(t)>0) AS ws FROM documents),
         |g AS (SELECT doc_id,
         |  list_transform(range(1, greatest(len(ws)-2,1)+1),
         |    i -> md5(array_to_string(ws[i:i+2],' '))) AS gs FROM w),
         |f AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(1, greatest(len(gs)-3,1)+1),
         |  j -> list_aggregate(gs[j:j+3], 'min')))) AS fp FROM g),
         |cand AS (SELECT a.doc_id AS id_in, b.doc_id AS id_out
         |  FROM f a JOIN f b ON a.fp=b.fp AND a.doc_id<>b.doc_id
         |  GROUP BY 1, 2 HAVING count(*)>=2),
         |w2 AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |shs AS (SELECT doc_id, $sh3Sql AS sh FROM w2),
         |p AS (SELECT id_in, id_out,
         |  len(list_intersect(x.sh, y.sh)) AS i, len(x.sh) AS la
         |  FROM cand JOIN shs x ON cand.id_in=x.doc_id
         |    JOIN shs y ON cand.id_out=y.doc_id)
         |SELECT id_in, id_out, CAST(i AS DOUBLE)/la AS containment
         |FROM p WHERE i*100 >= 50*la ORDER BY 1, 2""".stripMargin,
    "t_containment_diverse" ->
      s"""WITH nd AS (SELECT count(*) AS n FROM documents),
         |cfg AS (SELECT doc_id,
         |  (doc_id // 20) % greatest(1, n // 200) AS tpl,
         |  CASE WHEN doc_id % 100 = 0 THEN 5 ELSE 40 END AS nu,
         |  doc_id % 20 = 0 AS shr
         |  FROM documents, nd),
         |dv AS (SELECT doc_id,
         |  array_to_string(list_transform(range(1, nu+1),
         |    i -> substr(md5(concat('u', CAST(doc_id AS VARCHAR), '-',
         |      CAST(i AS VARCHAR))), 1, 8)), ' ')
         |  || CASE WHEN shr THEN ' ' ||
         |    array_to_string(list_transform(range(1, 21),
         |      j -> substr(md5(concat('p', CAST(tpl AS VARCHAR), '-',
         |        CAST(j AS VARCHAR))), 1, 8)), ' ')
         |  ELSE '' END AS text
         |  FROM cfg),
         |w AS (SELECT doc_id,
         |  list_filter($wsSql, t -> length(t)>0) AS ws FROM dv),
         |g AS (SELECT doc_id,
         |  list_transform(range(1, greatest(len(ws)-2,1)+1),
         |    i -> md5(array_to_string(ws[i:i+2],' '))) AS gs FROM w),
         |f AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(1, greatest(len(gs)-3,1)+1),
         |  j -> list_aggregate(gs[j:j+3], 'min')))) AS fp FROM g),
         |cand AS (SELECT a.doc_id AS id_in, b.doc_id AS id_out
         |  FROM f a JOIN f b ON a.fp=b.fp AND a.doc_id<>b.doc_id
         |  GROUP BY 1, 2 HAVING count(*)>=2),
         |w2 AS (SELECT doc_id, $wsSql AS ws FROM dv),
         |shs AS (SELECT doc_id, $sh3Sql AS sh FROM w2),
         |p AS (SELECT id_in, id_out,
         |  len(list_intersect(x.sh, y.sh)) AS i, len(x.sh) AS la
         |  FROM cand JOIN shs x ON cand.id_in=x.doc_id
         |    JOIN shs y ON cand.id_out=y.doc_id)
         |SELECT id_in, id_out, CAST(i AS DOUBLE)/la AS containment
         |FROM p WHERE i*100 >= 50*la ORDER BY 1, 2""".stripMargin,
    "t_dsir_select" ->
      s"""WITH w AS (SELECT doc_id, lang, $wsSql AS ws FROM documents),
         |sh AS (SELECT doc_id, lang, unnest(list_distinct(list_transform(
         |  range(1, greatest(len(ws)-1,1)+1),
         |  i -> array_to_string(ws[i:i+1],' ')))) AS g FROM w),
         |db AS (SELECT DISTINCT doc_id, lang, substr(md5(g),1,3) AS b
         |  FROM sh),
         |agg AS (SELECT b, count(*) AS r_b,
         |  CAST(sum(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS t_b FROM db GROUP BY 1),
         |tot AS (SELECT CAST(sum(r_b) AS BIGINT) AS rr,
         |  CAST(sum(t_b) AS BIGINT) AS tt FROM agg)
         |SELECT doc_id, CAST(sum(t_b*rr - r_b*tt) AS BIGINT) AS score,
         |  count(*) AS n_buckets
         |FROM db JOIN agg USING (b), tot
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,
    "t_novelty" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |  unnest(list_distinct(list_transform(
         |    range(1, greatest(len(ws)-7,1)+1),
         |    i -> array_to_string(ws[i:i+7],' ')))) AS gram FROM w),
         |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
         |SELECT g.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*) AS novelty
         |FROM g JOIN f USING (gram)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_familiarity" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |  unnest(list_distinct(list_transform(
         |    range(1, greatest(len(ws)-2,1)+1),
         |    i -> array_to_string(ws[i:i+2],' ')))) AS gram FROM w),
         |f AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
         |SELECT g.doc_id, count(*) AS n_grams,
         |  CAST(sum(f.df) AS BIGINT) AS df_total,
         |  CAST(sum(f.df) AS DOUBLE) / count(*) AS familiarity
         |FROM g JOIN f USING (gram)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_source_cap" ->
      """WITH r AS (SELECT doc_id, source, n_chars, row_number() OVER
        |  (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, n_chars, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    "t_phrase_search" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter($wsSql, t -> length(t)>0) AS ws FROM documents),
         |g AS (SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM w),
         |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM g),
         |top AS (SELECT w1, w2 FROM bg GROUP BY 1, 2
         |  ORDER BY count(*) DESC, w1, w2 LIMIT 1)
         |SELECT doc_id, w1, w2, count(*) AS n_occ
         |FROM bg JOIN top USING (w1, w2)
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "t_winnow_pairs" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter($wsSql, t -> length(t)>0) AS ws FROM documents),
         |g AS (SELECT doc_id,
         |  list_transform(range(1, greatest(len(ws)-2,1)+1),
         |    i -> md5(array_to_string(ws[i:i+2],' '))) AS gs FROM w),
         |f AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(1, greatest(len(gs)-3,1)+1),
         |  j -> list_aggregate(gs[j:j+3], 'min')))) AS fp FROM g),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  count(*) AS n_shared
         |  FROM f a JOIN f b ON a.fp=b.fp AND a.doc_id<b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
         |FROM p WHERE n_shared>=2 ORDER BY 1, 2""".stripMargin,
    "t_keywords" ->
      s"""WITH tok AS (SELECT doc_id, unnest($wsSql) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
         |  WHERE length(w)>0 GROUP BY 1, 2),
         |dfc AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |sc AS (SELECT doc_id, w, tf, df,
         |  CAST(tf * (2*n - 2*df + 1) AS DOUBLE) / (2*df + 1) AS score
         |  FROM tf JOIN dfc USING (w), nn
         |  WHERE df >= 2 AND df*2 <= n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |  ORDER BY score DESC, w DESC) AS rn FROM sc)
         |SELECT doc_id, w AS keyword, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, score
         |FROM r WHERE rn=1 ORDER BY doc_id""".stripMargin,
    "t_simhash" ->
      s"""WITH w AS (SELECT doc_id, unnest($wsSql) AS word FROM documents),
         |b AS (SELECT doc_id, $simhashSums FROM w GROUP BY 1)
         |SELECT doc_id, $simhashBits AS simhash FROM b ORDER BY doc_id""".stripMargin,
    "t_simhash_neardup" -> {
      val ham = (1 to TextFunctions.SimhashBits)
        .map(i => s"CAST(substr(a.simhash,$i,1)<>substr(b.simhash,$i,1) AS BIGINT)")
        .mkString(" + ")
      s"""WITH w AS (SELECT doc_id, unnest($wsSql) AS word FROM documents),
         |bs AS (SELECT doc_id, $simhashSums FROM w GROUP BY 1),
         |sh AS (SELECT doc_id, $simhashBits AS simhash FROM bs),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, $ham AS hamming
         |  FROM sh a JOIN sh b ON a.doc_id<b.doc_id)
         |SELECT id_a, id_b, hamming FROM p WHERE hamming<=3
         |ORDER BY 1,2""".stripMargin
    },
    "t_neardup_pairs" ->
      s"""WITH ${neardupPairCtesFrom("documents")}
         |SELECT id_a, id_b, jac FROM j WHERE jac>=0.5 ORDER BY 1,2""".stripMargin,
    "t_minhash_est" ->
      s"""WITH ${neardupPairCtesFrom("documents")},
         |est AS (SELECT id_a, id_b,
         |  CAST(len(list_filter(range(1,13), i -> x.sg[i] = y.sg[i]))
         |    AS DOUBLE)/12 AS jac_est
         |  FROM cand JOIN sig x ON cand.id_a=x.doc_id
         |  JOIN sig y ON cand.id_b=y.doc_id)
         |SELECT j.id_a, j.id_b, est.jac_est, j.jac AS jac_exact
         |FROM j JOIN est USING (id_a, id_b) ORDER BY 1,2""".stripMargin,
    // Connected components via transitive closure: reach(src,dst) is the
    // reachable set over the undirected pair graph; the cluster label is
    // the minimum reachable id — identical to Spark's converged min-label
    // propagation.
    "t_neardup_clusters" ->
      s"""WITH RECURSIVE ${neardupPairCtesFrom("documents")},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac>=0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (SELECT src, src FROM e
         |  UNION SELECT e.src, r.dst FROM e JOIN reach r ON e.dst=r.src)
         |SELECT src AS node, min(dst) AS cluster FROM reach
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_cross_source_overlap" ->
      s"""WITH w AS (SELECT source, $wsSql AS ws FROM documents),
         |g AS (SELECT DISTINCT source,
         |  unnest(list_distinct(list_transform(
         |    range(1, greatest(len(ws)-4,1)+1),
         |    i -> array_to_string(ws[i:i+4],' ')))) AS sh FROM w),
         |el AS (SELECT sh FROM g GROUP BY sh
         |  HAVING count(*) >= 2 AND count(*) <= 10),
         |gg AS (SELECT g.source, g.sh FROM g JOIN el USING (sh))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_shared_shingles
         |FROM gg a JOIN gg b ON a.sh = b.sh AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_gate_ablation" ->
      s"""WITH w AS (SELECT list_filter($wsSql, t -> length(t)>0) AS ws
         |  FROM documents),
         |b AS (SELECT CAST(len(ws) AS BIGINT) AS n_tok,
         |  CAST(len(list_filter(ws, t -> t = 'the' OR t = 'a'))
         |    AS BIGINT) AS n_stop,
         |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_uniq FROM w),
         |g AS (SELECT n_tok >= 5 AS g_len, n_stop >= 1 AS g_stop,
         |  n_uniq * 2 >= n_tok AS g_rep FROM b),
         |m AS (SELECT g_len, g_stop, g_rep,
         |  CAST(count(*) AS BIGINT) AS n_docs FROM g GROUP BY 1, 2, 3),
         |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nt FROM m)
         |SELECT CAST(CASE WHEN g_len THEN 1 ELSE 0 END
         |    + CASE WHEN g_stop THEN 2 ELSE 0 END
         |    + CASE WHEN g_rep THEN 4 ELSE 0 END AS BIGINT) AS mask,
         |  g_len, g_stop, g_rep, n_docs,
         |  CAST(n_docs AS DOUBLE) / CAST(nt AS DOUBLE) AS share
         |FROM m, t ORDER BY mask""".stripMargin,
    "t_context_fit" ->
      s"""WITH w AS (SELECT doc_id,
         |  len(list_filter($wsSql, t -> length(t)>0)) AS n_tok
         |  FROM documents),
         |s AS (SELECT CAST(n_tok AS BIGINT) AS n_tok FROM w
         |  WHERE n_tok > 0),
         |g AS (SELECT CAST(length(printf('%b', n_tok)) - 1 AS BIGINT)
         |    AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |  FROM s GROUP BY 1),
         |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nd FROM g)
         |SELECT bucket, n_docs, n_tokens,
         |  CAST(sum(n_docs) OVER (ORDER BY bucket
         |    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         |    / CAST(nd AS DOUBLE) AS fit_share
         |FROM g, t ORDER BY bucket""".stripMargin,
    "t_ccnet_buckets" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |  unnest(list_distinct(list_transform(
         |    range(1, greatest(len(ws)-2,1)+1),
         |    i -> array_to_string(ws[i:i+2],' ')))) AS gram FROM w),
         |f AS (SELECT gram, count(*) AS df FROM g GROUP BY 1),
         |sc AS (SELECT g.doc_id,
         |  (CAST(sum(f.df) AS BIGINT) * 1000000) // count(*)
         |    AS score_milli
         |  FROM g JOIN f USING (gram) GROUP BY 1),
         |r AS (SELECT score_milli,
         |  row_number() OVER (ORDER BY score_milli) AS rn,
         |  count(*) OVER () AS cnt FROM sc),
         |q AS (SELECT
         |  min(CASE WHEN rn = greatest(1, (33*cnt+99)//100)
         |    THEN score_milli END) AS t33,
         |  min(CASE WHEN rn = greatest(1, (67*cnt+99)//100)
         |    THEN score_milli END) AS t67 FROM r)
         |SELECT sc.doc_id, CAST(sc.score_milli AS BIGINT) AS score_milli,
         |  CAST(q.t33 AS BIGINT) AS t33, CAST(q.t67 AS BIGINT) AS t67,
         |  CASE WHEN sc.score_milli >= q.t67 THEN 'head'
         |       WHEN sc.score_milli >= q.t33 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sc, q ORDER BY doc_id""".stripMargin,
    "t_boilerplate_lines" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter($wsSql, x -> length(x) > 0) AS ws FROM documents),
         |l AS (SELECT DISTINCT doc_id, unnest(list_transform(
         |  range(0, greatest((len(ws)-1)//10, 0) + 1),
         |  i -> array_to_string(ws[i*10+1 : i*10+10], ' '))) AS line
         |  FROM w)
         |SELECT line, CAST(count(*) AS BIGINT) AS df FROM l
         |GROUP BY 1 HAVING count(*) >= 2
         |ORDER BY df DESC, line LIMIT 20""".stripMargin,
    "t_ccnet_by_lang" ->
      s"""WITH w AS (SELECT doc_id, lang, $wsSql AS ws FROM documents),
         |g AS (SELECT DISTINCT doc_id, lang,
         |  unnest(list_distinct(list_transform(
         |    range(1, greatest(len(ws)-2,1)+1),
         |    i -> array_to_string(ws[i:i+2],' ')))) AS gram FROM w),
         |f AS (SELECT gram, count(*) AS df FROM g GROUP BY 1),
         |sc AS (SELECT g.doc_id, g.lang,
         |  (CAST(sum(f.df) AS BIGINT) * 1000000) // count(*)
         |    AS score_milli
         |  FROM g JOIN f USING (gram) GROUP BY 1, 2),
         |r AS (SELECT score_milli,
         |  row_number() OVER (ORDER BY score_milli) AS rn,
         |  count(*) OVER () AS cnt FROM sc),
         |q AS (SELECT
         |  min(CASE WHEN rn = greatest(1, (33*cnt+99)//100)
         |    THEN score_milli END) AS t33,
         |  min(CASE WHEN rn = greatest(1, (67*cnt+99)//100)
         |    THEN score_milli END) AS t67 FROM r),
         |b AS (SELECT lang,
         |  CASE WHEN score_milli >= t67 THEN 'head'
         |       WHEN score_milli >= t33 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |  FROM sc, q),
         |m AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang
         |  FROM m GROUP BY 1)
         |SELECT m.lang, m.bucket, m.n_docs, t.n_lang,
         |  CAST(m.n_docs AS DOUBLE) / CAST(t.n_lang AS DOUBLE)
         |    AS share_of_lang
         |FROM m JOIN t USING (lang) ORDER BY m.lang, m.bucket""".stripMargin,
    "t_dedup_savings" ->
      s"""WITH RECURSIVE ${neardupPairCtesFrom("documents")},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac>=0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (SELECT src, src FROM e
         |  UNION SELECT e.src, r.dst FROM e JOIN reach r ON e.dst=r.src),
         |cc AS (SELECT src AS node, min(dst) AS cluster FROM reach
         |  GROUP BY 1),
         |tok AS (SELECT doc_id,
         |  CAST(len(list_filter($wsSql, t -> length(t)>0)) AS BIGINT)
         |    AS n_tok FROM documents),
         |kept AS (SELECT doc_id FROM documents
         |  WHERE doc_id NOT IN (SELECT node FROM cc WHERE node<>cluster)),
         |ka AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_kept,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens_kept
         |  FROM tok JOIN kept USING (doc_id)),
         |ta AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM tok)
         |SELECT n_docs, n_docs_kept, n_tokens, n_tokens_kept,
         |  CAST(n_docs - n_docs_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |    AS doc_savings,
         |  CAST(n_tokens - n_tokens_kept AS DOUBLE)
         |    / CAST(n_tokens AS DOUBLE) AS token_savings
         |FROM ta, ka""".stripMargin,
    "t_neardup_profile" ->
      s"""WITH RECURSIVE ${neardupPairCtesFrom("documents")},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac>=0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (SELECT src, src FROM e
         |  UNION SELECT e.src, r.dst FROM e JOIN reach r ON e.dst=r.src)
         |, comp AS (SELECT src AS node, min(dst) AS cluster FROM reach
         |  GROUP BY 1),
         |szs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
         |  FROM comp GROUP BY 1),
         |multi AS (SELECT sz AS cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_clusters FROM szs GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
         |inn AS (SELECT CAST(count(*) AS BIGINT) AS ni FROM comp),
         |uni AS (SELECT * FROM multi
         |  UNION ALL SELECT 1, nd - ni FROM tot, inn)
         |SELECT cluster_size,
         |  CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * sum(n_clusters) AS BIGINT) AS n_docs
         |FROM uni GROUP BY 1 HAVING sum(n_clusters) > 0
         |ORDER BY 1""".stripMargin,
    "t_neardup_kept" ->
      s"""WITH RECURSIVE ${neardupPairCtesFrom("documents")},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac>=0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (SELECT src, src FROM e
         |  UNION SELECT e.src, r.dst FROM e JOIN reach r ON e.dst=r.src),
         |cc AS (SELECT src AS node, min(dst) AS cluster FROM reach GROUP BY 1)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM cc WHERE node<>cluster)
         |ORDER BY 1""".stripMargin,
    "t_ngram_blocked" ->
      s"""WITH w AS (SELECT doc_id, lang, source, $wsSql AS ws FROM documents),
         |shs AS (SELECT doc_id, lang, source, $sh3Sql AS sh FROM w),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    /(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) AS jac
         |  FROM shs a JOIN shs b ON a.lang=b.lang AND a.source=b.source
         |    AND a.doc_id<b.doc_id)
         |SELECT id_a, id_b, jac FROM p WHERE jac>=0.2 ORDER BY 1,2""".stripMargin,
    "t_setsim_prefix" ->
      s"""WITH w AS (SELECT doc_id, list_distinct($wsSql) AS ws
         |  FROM documents WHERE length(trim(text)) > 0),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_intersect(a.ws, b.ws)) AS i,
         |  len(a.ws) AS la, len(b.ws) AS lb
         |  FROM w a JOIN w b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(i AS DOUBLE)/(la+lb-i) AS jac
         |FROM p WHERE i*10 >= 9*(la+lb-i) ORDER BY 1, 2""".stripMargin,
    "t_setsim_sweep" ->
      s"""WITH w AS (SELECT doc_id, list_distinct($wsSql) AS ws
         |  FROM documents WHERE length(trim(text)) > 0),
         |p AS (SELECT len(list_intersect(a.ws, b.ws)) AS i,
         |  len(a.ws) AS la, len(b.ws) AS lb
         |  FROM w a JOIN w b ON a.doc_id < b.doc_id),
         |v AS (SELECT CAST(floor((CAST(i AS DOUBLE)/(la+lb-i))*10)
         |    AS BIGINT) AS band
         |  FROM p WHERE i*10 >= 7*(la+lb-i))
         |SELECT band, count(*) AS n_pairs FROM v GROUP BY 1
         |ORDER BY band""".stripMargin,
    "t_simpson_diversity" ->
      s"""WITH tok AS (SELECT doc_id,
         |  unnest(list_filter($wsSql, x -> length(x) > 0)) AS w
         |  FROM documents),
         |c AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
         |  CAST(sum(c*c) AS BIGINT) AS sum_c2,
         |  count(*) AS n_distinct,
         |  CAST(1.0 AS DOUBLE)
         |    - CAST(sum(c*c) AS DOUBLE)/(sum(c)*sum(c)) AS simpson
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_setsim_incremental" ->
      s"""WITH w AS (SELECT doc_id, list_distinct($wsSql) AS ws
         |  FROM documents WHERE length(trim(text)) > 0),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_intersect(a.ws, b.ws)) AS i,
         |  len(a.ws) AS la, len(b.ws) AS lb
         |  FROM w a JOIN w b
         |    ON a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0)
         |SELECT id_a, id_b, CAST(i AS DOUBLE)/(la+lb-i) AS jac
         |FROM p WHERE i*10 >= 9*(la+lb-i) ORDER BY 1, 2""".stripMargin,
    "t_split_leakage" -> {
      val tTest = graft.operators.TrainingMix.rateThreshold(0.1)
      val tVal = graft.operators.TrainingMix.rateThreshold(0.2)
      s"""WITH RECURSIVE ${neardupPairCtesFrom("documents")},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac>=0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (SELECT src, src FROM e
         |  UNION SELECT e.src, r.dst FROM e JOIN reach r ON e.dst=r.src),
         |cc AS (SELECT src AS node, min(dst) AS cluster FROM reach GROUP BY 1),
         |lab AS (SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
         |sp AS (SELECT doc_id, cluster,
         |  CASE WHEN md5(CAST(cluster AS VARCHAR)) < '$tTest' THEN 'test'
         |       WHEN md5(CAST(cluster AS VARCHAR)) < '$tVal' THEN 'val'
         |       ELSE 'train' END AS split FROM lab),
         |lk AS (SELECT CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_leaky FROM (SELECT cluster, count(DISTINCT split) AS k
         |  FROM sp GROUP BY 1))
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT cluster) AS n_clusters,
         |  (SELECT n_leaky FROM lk) AS n_leaky_clusters
         |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "t_sample_pps" ->
      s"""WITH w AS (SELECT doc_id,
         |  CAST(CASE WHEN length(trim(text))=0 THEN 0
         |    ELSE len($wsSql) END AS BIGINT) AS wt FROM documents),
         |t AS (SELECT sum(wt) AS tw FROM w WHERE wt > 0)
         |SELECT doc_id FROM w CROSS JOIN t
         |WHERE wt > 0
         |  AND CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
         |        AS BIGINT) AS HUGEINT) * tw
         |      < CAST(50 AS HUGEINT) * wt * 4503599627370496
         |ORDER BY doc_id""".stripMargin,
    "t_decontam_docsim" ->
      s"""WITH w AS (SELECT doc_id, list_distinct($wsSql) AS ws
         |  FROM documents WHERE length(trim(text)) > 0),
         |fl AS (SELECT DISTINCT b.doc_id FROM w a JOIN w b
         |  ON a.doc_id % 13 = 0 AND b.doc_id % 13 <> 0
         |  WHERE len(list_intersect(a.ws, b.ws)) * 5
         |    >= 4 * (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))))
         |SELECT doc_id FROM documents
         |WHERE doc_id % 13 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM fl)
         |ORDER BY 1""".stripMargin,
    "t_weighted_median" ->
      s"""WITH w AS (SELECT
         |  CAST(CAST(n_chars AS DECIMAL(12,2))*100 AS BIGINT) AS v,
         |  CAST(CASE WHEN length(trim(text))=0 THEN 0
         |    ELSE len($wsSql) END AS BIGINT) AS wt
         |  FROM documents WHERE n_chars IS NOT NULL),
         |x AS (SELECT v FROM (SELECT v, unnest(range(1, wt + 1))
         |  FROM w WHERE wt > 0)),
         |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
         |  count(*) OVER () AS n FROM x)
         |SELECT CAST(sum(CASE WHEN rn=(n+1)//2 THEN v ELSE 0 END)
         |  + sum(CASE WHEN rn=(n+2)//2 THEN v ELSE 0 END) AS DOUBLE)/200.0
         |  AS weighted_median
         |FROM r""".stripMargin,
    "dq_histogram" ->
      """WITH v AS (SELECT n_chars AS x FROM documents WHERE n_chars IS NOT NULL),
        |t AS (SELECT min(x) AS lo, max(x) AS hi FROM v),
        |c AS (SELECT least(15, ((greatest(x, lo) - lo) * 16) // (hi - lo + 1))
        |    AS bucket, count(*) AS n
        |  FROM v CROSS JOIN t GROUP BY 1),
        |s AS (SELECT unnest(range(0, 16)) AS bucket)
        |SELECT s.bucket,
        |  lo + (s.bucket * (hi - lo + 1) + 15) // 16 AS edge_lo,
        |  lo + ((s.bucket + 1) * (hi - lo + 1) + 15) // 16 AS edge_hi,
        |  coalesce(n, 0) AS n
        |FROM s CROSS JOIN t LEFT JOIN c ON c.bucket = s.bucket
        |ORDER BY 1""".stripMargin,
    "dq_drift_chisq" -> chisqOracle,
    // Restricted to the NON-NULL category domain on both halves — the
    // categorical state excludes nulls by design and the registered
    // reference mirrors it; coincides with the batch oracle on the
    // null-free synthetic corpus.
    "dq_drift_chisq_stream" -> chisqStreamOracle,
    // The streamed face's oracle is the batch oracle restricted to the
    // NON-NULL category domain on both halves — the categorical state
    // excludes nulls by design, and the registered reference mirrors
    // it; on the (null-free) synthetic corpus the two coincide.
    "dq_drift_lang_stream" -> driftLangStreamOracle,
    "dq_drift_lang" -> driftLangOracle,
    "dq_drift_nchars" ->
      """WITH a AS (SELECT least(15, (greatest(n_chars, 0) * 16) // 4096)
        |    AS cat FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
        |b AS (SELECT least(15, (greatest(n_chars, 0) * 16) // 4096)
        |    AS cat FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
        |ca AS (SELECT cat, count(*) AS n_a FROM a GROUP BY 1),
        |cb AS (SELECT cat, count(*) AS n_b FROM b GROUP BY 1),
        |j AS (SELECT coalesce(ca.n_a, 0) AS n_a, coalesce(cb.n_b, 0) AS n_b
        |  FROM ca FULL OUTER JOIN cb ON ca.cat = cb.cat),
        |t AS (SELECT (SELECT count(*) FROM a) AS ta,
        |             (SELECT count(*) FROM b) AS tb)
        |SELECT ta AS n_a, tb AS n_b,
        |  count(*) AS n_categories,
        |  CAST(sum(CASE WHEN abs(j.n_a*tb - j.n_b*ta) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_diverged,
        |  CAST(sum(abs(j.n_a*tb - j.n_b*ta)) AS DOUBLE)/(2*ta*tb) AS tvd
        |FROM j CROSS JOIN t GROUP BY ta, tb""".stripMargin,
    "t_tokens_bpe" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(lower(text),
        |'[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_quality_score" ->
      s"""WITH w AS (SELECT doc_id, text, $wsSql AS ws FROM documents),
         |f AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN 0 ELSE len(ws) END AS nt,
         |  CAST(length(regexp_replace(text,'[^.,!?;:]','','g')) AS DOUBLE)/length(text) AS pr,
         |  CAST(length(regexp_replace(text,'\\s','','g')) AS DOUBLE)/len(ws) AS awl
         |  FROM w)
         |SELECT doc_id,
         |  0.5*(CAST(least(nt,100) AS DOUBLE)/100.0) + 0.3*(1.0-pr)
         |    + 0.2*(least(awl,10.0)/10.0) AS quality,
         |  (nt>=5 AND pr<=0.1 AND awl>=2.0 AND awl<=10.0) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,
    "t_curation_funnel" ->
      s"""WITH RECURSIVE qual AS (
         |  SELECT doc_id, text, lang FROM (
         |    SELECT doc_id, text, lang,
         |      CASE WHEN length(trim(text))=0 THEN 0 ELSE len(ws) END AS nt,
         |      CAST(length(regexp_replace(text,'[^.,!?;:]','','g')) AS DOUBLE)/length(text) AS pr,
         |      CAST(length(regexp_replace(text,'\\s','','g')) AS DOUBLE)/len(ws) AS awl
         |    FROM (SELECT doc_id, text, lang, $wsSql AS ws FROM documents))
         |  WHERE nt>=5 AND pr<=0.1 AND awl>=2.0 AND awl<=10.0),
         |ex AS (SELECT q.* FROM qual q
         |  JOIN (SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(text)) k
         |  USING (doc_id)),
         |${neardupPairCtesFrom("ex")},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac>=0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (SELECT src, src FROM e
         |  UNION SELECT e.src, r.dst FROM e JOIN reach r ON e.dst=r.src),
         |cc AS (SELECT src AS node, min(dst) AS cluster FROM reach GROUP BY 1)
         |SELECT doc_id, lang FROM ex
         |WHERE doc_id NOT IN (SELECT node FROM cc WHERE node<>cluster)
         |ORDER BY 1""".stripMargin,
    "t_stratified_sample" ->
      """WITH r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn<=10 ORDER BY lang, doc_id""".stripMargin,
    "t_ngram_coverage_curve" ->
      s"""WITH w AS (SELECT list_filter($wsSql, x -> length(x) > 0) AS ws
         |  FROM documents),
         |tok AS (SELECT unnest(ws) AS tok FROM w),
         |vc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
         |  FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens FROM vc),
         |r AS (SELECT tok, c,
         |  CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rn
         |  FROM vc),
         |k AS (SELECT CAST(unnest([10, 100, 1000]) AS BIGINT) AS k)
         |SELECT k.k, CAST(count(*) AS BIGINT) AS n_terms,
         |  CAST(sum(r.c) AS BIGINT) AS mass, tot.total_tokens,
         |  (1000 * CAST(sum(r.c) AS BIGINT)) // tot.total_tokens
         |    AS coverage_permille
         |FROM k JOIN r ON r.rn <= k.k, tot
         |GROUP BY 1, tot.total_tokens ORDER BY 1""".stripMargin,
    "t_top_ngrams" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(1, greatest(len(ws)-1,1)+1),
         |  i -> array_to_string(ws[i:i+1],' ')))) AS ngram FROM w)
         |SELECT ngram, count(*) AS df FROM g GROUP BY 1
         |ORDER BY df DESC, ngram LIMIT 20""".stripMargin,
    "t_freq_spectrum" ->
      s"""WITH w AS (SELECT $wsSql AS ws FROM documents),
         |g AS (SELECT unnest(ws) AS tok FROM w),
         |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM g
         |  WHERE length(tok) > 0 GROUP BY 1)
         |SELECT CAST(length(printf('%b', c)) - 1 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(c) AS BIGINT) AS n_occurrences,
         |  min(c) AS min_count, max(c) AS max_count
         |FROM tf GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_lsh_band_sweep" -> {
      def cfg(b: Int, r: Int) =
        s"""b$b AS (SELECT doc_id, unnest(list_transform(range(0,$b),
           |  j -> concat(j, '|',
           |    array_to_string(sg[j*$r+1:(j+1)*$r], '|')))) AS bv
           |  FROM sig),
           |g$b AS (SELECT bv, CAST(count(*) AS BIGINT) AS n
           |  FROM b$b GROUP BY 1),
           |a$b AS (SELECT
           |  CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_buckets_multi,
           |  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS pair_bill
           |  FROM g$b)""".stripMargin
      s"""WITH ${minhashSigCtes("documents")},
         |${cfg(12, 1)},
         |${cfg(6, 2)},
         |${cfg(3, 4)}
         |SELECT CAST(12 AS BIGINT) AS bands, CAST(1 AS BIGINT)
         |  AS rows_per_band, n_buckets_multi, pair_bill FROM a12
         |UNION ALL SELECT 6, 2, n_buckets_multi, pair_bill FROM a6
         |UNION ALL SELECT 3, 4, n_buckets_multi, pair_bill FROM a3
         |ORDER BY bands DESC""".stripMargin
    },
    "t_jaccard_threshold_sweep" ->
      s"""WITH ${neardupPairCtesFrom("documents")},
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS k50,
         |  CAST(sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS k70,
         |  CAST(sum(CASE WHEN jac >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS k90 FROM j)
         |SELECT CAST(50 AS BIGINT) AS threshold_pct, k50 AS n_kept,
         |  n_candidates, CASE WHEN n_candidates > 0
         |    THEN (1000 * k50) // n_candidates ELSE 0 END
         |    AS kept_permille FROM a
         |UNION ALL SELECT 70, k70, n_candidates, CASE WHEN
         |  n_candidates > 0 THEN (1000 * k70) // n_candidates ELSE 0 END
         |  FROM a
         |UNION ALL SELECT 90, k90, n_candidates, CASE WHEN
         |  n_candidates > 0 THEN (1000 * k90) // n_candidates ELSE 0 END
         |  FROM a
         |ORDER BY threshold_pct""".stripMargin,
    "t_quality_calibration" ->
      s"""WITH w AS (SELECT doc_id, n_chars,
         |  list_filter($wsSql, x -> length(x) > 0) AS ws,
         |  md5(lower(trim(text))) AS h FROM documents),
         |f AS (SELECT doc_id, n_chars, h,
         |  -800*len(ws)
         |    + 3000*len(list_filter(ws, x -> x='the' OR x='a'))
         |    + 60*n_chars + 600*len(list_distinct(ws)) AS score
         |  FROM w),
         |d AS (SELECT h, CAST(count(*) AS BIGINT) AS n_copies
         |  FROM f GROUP BY 1),
         |r AS (SELECT f.*,
         |  row_number() OVER (ORDER BY score DESC, doc_id) AS rnk,
         |  count(*) OVER () AS n_total FROM f),
         |q AS (SELECT ((rnk - 1) * 5) // n_total AS quintile,
         |  n_chars, h FROM r),
         |j AS (SELECT q.quintile, q.n_chars, d.n_copies
         |  FROM q JOIN d USING (h))
         |SELECT CAST(quintile AS BIGINT) AS quintile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup_docs,
         |  (1000 * CAST(sum(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END)
         |    AS BIGINT)) // CAST(count(*) AS BIGINT) AS dup_permille,
         |  CAST(sum(n_chars) AS BIGINT) // CAST(count(*) AS BIGINT)
         |    AS chars_per_doc
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "mm_png_roundtrip" ->
      """SELECT doc_id, CAST(8 + doc_id%16 AS INT) AS w,
        |CAST(8 + doc_id%8 AS INT) AS h,
        |CAST(greatest((8 + doc_id%16)//2, 1) AS INT) AS rw,
        |CAST(greatest((8 + doc_id%8)//2, 1) AS INT) AS rh
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_format_matrix" ->
      """SELECT doc_id, fmt, CAST(4 + doc_id%8 AS INT) AS w,
        |CAST(4 + doc_id%4 AS INT) AS h
        |FROM documents, (SELECT unnest(['bmp','gif','png']) AS fmt)
        |ORDER BY doc_id, fmt""".stripMargin,
    "mm_ahash" -> ahashOracle,
    "mm_audio_features" -> audioFeaturesOracle,
    "mm_image_neardup" -> imageNearDupOracle,
    "mm_wav_roundtrip" ->
      """SELECT doc_id, CAST(64 + doc_id%64 AS BIGINT) AS n_frames,
        |CAST(8000 AS INT) AS sr,
        |CAST((64 + doc_id%64 + 1)//2 AS BIGINT) AS dn_frames,
        |CAST(4000 AS INT) AS dn_sr
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id, CAST(ceil(ceil(octet_length(encode(text))/32.0)/2.0)
        |AS BIGINT) AS n_frames FROM documents ORDER BY doc_id""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |CAST(ascii(substr(text,1,1)) AS BIGINT) AS first_char
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_decontam" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |shs AS (SELECT doc_id, $sh3Sql AS sh FROM w),
         |tr AS (SELECT doc_id AS train_id, unnest(sh) AS s FROM shs
         |  WHERE doc_id%37<>0),
         |ev AS (SELECT doc_id AS eval_id, unnest(sh) AS s FROM shs
         |  WHERE doc_id%37=0),
         |rare AS (SELECT s FROM tr GROUP BY s HAVING count(*)<=50),
         |ov AS (SELECT train_id, eval_id, count(*) AS n_overlap
         |  FROM tr JOIN rare USING (s) JOIN ev USING (s) GROUP BY 1,2)
         |SELECT train_id, eval_id, n_overlap FROM ov WHERE n_overlap>=2
         |ORDER BY 1,2""".stripMargin,
    "t_length_trim" ->
      s"""WITH w AS (SELECT doc_id, lang,
         |  CASE WHEN length(trim(text))=0 THEN 0 ELSE len(ws) END AS n_tok
         |  FROM (SELECT doc_id, lang, text, $wsSql AS ws FROM documents)),
         |b AS (SELECT lang, quantile_cont(n_tok, 0.1) AS lo,
         |  quantile_cont(n_tok, 0.9) AS hi FROM w GROUP BY 1)
         |SELECT doc_id, lang FROM w JOIN b USING (lang)
         |WHERE n_tok >= lo AND n_tok <= hi ORDER BY doc_id""".stripMargin,
    "t_dedup_incremental" ->
      s"""WITH ${minhashBandCtes("documents")},
         |exs AS (SELECT doc_id FROM documents WHERE doc_id%3=0
         |  AND md5(text) NOT IN (SELECT md5(text) FROM documents
         |    WHERE doc_id%3<>0)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
         |  FROM bands a JOIN bands b ON a.bv=b.bv
         |  WHERE a.doc_id IN (SELECT doc_id FROM exs) AND b.doc_id%3<>0),
         |jj AS (SELECT id_new, id_old,
         |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
         |    /(len(x.sh)+len(y.sh)-len(list_intersect(x.sh,y.sh))) AS jac
         |  FROM cand JOIN shs x ON cand.id_new=x.doc_id
         |    JOIN shs y ON cand.id_old=y.doc_id)
         |SELECT doc_id FROM exs
         |WHERE doc_id NOT IN (SELECT id_new FROM jj WHERE jac>=0.5)
         |ORDER BY doc_id""".stripMargin,
    "t_decontam_clean" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |shs AS (SELECT doc_id, $sh3Sql AS sh FROM w),
         |tr AS (SELECT doc_id AS train_id, unnest(sh) AS s FROM shs
         |  WHERE doc_id%37<>0),
         |ev AS (SELECT doc_id AS eval_id, unnest(sh) AS s FROM shs
         |  WHERE doc_id%37=0),
         |rare AS (SELECT s FROM tr GROUP BY s HAVING count(*)<=50),
         |ov AS (SELECT train_id, eval_id, count(*) AS n_overlap
         |  FROM tr JOIN rare USING (s) JOIN ev USING (s) GROUP BY 1,2)
         |SELECT doc_id FROM documents WHERE doc_id%37<>0
         |AND doc_id NOT IN (SELECT train_id FROM ov WHERE n_overlap>=2)
         |ORDER BY doc_id""".stripMargin,
    "g_pagerank" -> {
      // Unrolled iterations generated for the same damping rational and
      // scale as Graph.pagerankInt.
      val rounds = (1 to 3).map { i =>
        s"""m$i AS (SELECT e2.dst AS id, sum(r${i - 1}.r // od.outdeg) AS c
           |  FROM e2 JOIN r${i - 1} ON e2.src = r${i - 1}.id
           |  JOIN od ON e2.src = od.src GROUP BY 1),
           |r$i AS (SELECT r${i - 1}.id,
           |  150000 + (17 * coalesce(m$i.c, 0)) // 20 AS r
           |  FROM r${i - 1} LEFT JOIN m$i USING (id))""".stripMargin
      }.mkString(",\n")
      s"""WITH n AS (SELECT count(*) AS c FROM documents),
         |e AS (SELECT doc_id AS src, (doc_id*7+1) % c AS dst
         |        FROM documents, n
         |      UNION ALL
         |      SELECT doc_id, (doc_id*13+3) % c FROM documents, n),
         |e2 AS (SELECT src, dst FROM e WHERE src <> dst),
         |od AS (SELECT src, count(*) AS outdeg FROM e2 GROUP BY 1),
         |r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r
         |       FROM documents),
         |$rounds
         |SELECT id, CAST(r AS BIGINT) AS rank FROM r3
         |ORDER BY id""".stripMargin
    },
    "g_bfs_hops" -> {
      // Unrolled frontier expansions; each a$i/f$i has two consumers →
      // MATERIALIZED (the k-core inlining gotcha).
      val rounds = (1 to 4).map { i =>
        s"""f$i AS MATERIALIZED (SELECT DISTINCT e2.dst AS id
           |  FROM e2 JOIN f${i - 1} ON e2.src = f${i - 1}.id
           |  WHERE e2.dst NOT IN (SELECT id FROM a${i - 1})),
           |a$i AS MATERIALIZED (SELECT id, hop FROM a${i - 1}
           |  UNION ALL SELECT id, CAST($i AS BIGINT) FROM f$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH n AS (SELECT count(*) AS c FROM documents),
         |e AS (SELECT doc_id AS src, (doc_id*7+1) % c AS dst
         |        FROM documents, n
         |      UNION ALL
         |      SELECT doc_id, (doc_id*13+3) % c FROM documents, n),
         |e2 AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst),
         |f0 AS (SELECT doc_id AS id FROM documents WHERE doc_id%97=0),
         |a0 AS (SELECT id, CAST(0 AS BIGINT) AS hop FROM f0),
         |$rounds
         |SELECT id, hop FROM a4 ORDER BY id""".stripMargin
    },
    "t_repetition" ->
      s"""WITH w AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |b AS (SELECT doc_id, list_transform(range(1, greatest(len(ws)-1,1)+1),
         |  i -> array_to_string(ws[i:i+1],' ')) AS bgs FROM w),
         |g AS (SELECT doc_id, unnest(bgs) AS bg FROM b),
         |c AS (SELECT doc_id, bg, count(*) AS cnt FROM g GROUP BY 1,2),
         |r AS (SELECT doc_id, max(cnt) AS topc, sum(cnt) AS tot FROM c GROUP BY 1)
         |SELECT w.doc_id,
         |  1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)/len(ws) AS dup_token_frac,
         |  CAST(topc AS DOUBLE)/tot AS top_bigram_frac
         |FROM w JOIN r ON w.doc_id=r.doc_id ORDER BY 1""".stripMargin,
    "dq_pii_scan" -> {
      val em = TextFunctions.EmailRegex
      val ph = TextFunctions.PhoneRegex
      s"""WITH p AS (SELECT CASE WHEN doc_id%7=0
         |  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or 555-123-4567'
         |  ELSE text END AS t FROM documents)
         |SELECT 'customer' AS tbl, 'c_name' AS col, count(*) AS n_rows,
         |  count(*) FILTER (WHERE len(regexp_extract_all(lower(c_name),
         |    '$em')) > 0) AS email_rows,
         |  count(*) FILTER (WHERE len(regexp_extract_all(lower(c_name),
         |    '$ph')) > 0) AS phone_rows
         |FROM customer
         |UNION ALL
         |SELECT 'documents', 'text', count(*),
         |  count(*) FILTER (WHERE len(regexp_extract_all(lower(t),
         |    '$em')) > 0),
         |  count(*) FILTER (WHERE len(regexp_extract_all(lower(t),
         |    '$ph')) > 0)
         |FROM p
         |UNION ALL
         |SELECT 'part', 'p_name', count(*),
         |  count(*) FILTER (WHERE len(regexp_extract_all(lower(p_name),
         |    '$em')) > 0),
         |  count(*) FILTER (WHERE len(regexp_extract_all(lower(p_name),
         |    '$ph')) > 0)
         |FROM part
         |ORDER BY tbl""".stripMargin
    },
    "t_quality_gopher" ->
      s"""WITH w AS (SELECT doc_id, text, $wsSql AS ws FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN length(text)=0 THEN 0.0 ELSE
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '',
         |      'g')) AS DOUBLE)/length(text) END AS symbol_frac,
         |  CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
         |    AS DOUBLE)/len(ws) AS alpha_word_frac,
         |  CAST(len(list_filter(ws,
         |    x -> list_contains(['the','and','of','is','to'], x)))
         |    AS DOUBLE)/len(ws) AS stopword_frac
         |  FROM w)
         |SELECT doc_id, symbol_frac, alpha_word_frac, stopword_frac,
         |  (alpha_word_frac >= 0.8 AND symbol_frac <= 0.1) AS keep
         |FROM s ORDER BY doc_id""".stripMargin,
    "t_vocab_coverage" ->
      s"""WITH tok AS (SELECT doc_id,
         |  unnest(list_filter($wsSql, x -> length(x) > 0)) AS w
         |  FROM documents),
         |v AS (SELECT w FROM (SELECT w, count(*) AS n FROM tok
         |  GROUP BY 1) ORDER BY n DESC, w LIMIT 10)
         |SELECT doc_id, count(*) AS n_tok,
         |  count(*) FILTER (WHERE w NOT IN (SELECT w FROM v))
         |    AS n_oov,
         |  CAST(count(*) FILTER (WHERE w NOT IN (SELECT w FROM v))
         |    AS DOUBLE) / count(*) AS oov_frac
         |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_quality_logistic" ->
      s"""WITH w AS (SELECT doc_id, n_chars,
         |  list_filter($wsSql, x -> length(x) > 0) AS ws FROM documents),
         |f AS (SELECT doc_id, len(ws) AS n_tok,
         |  len(list_filter(ws, x -> x = 'the' OR x = 'a')) AS n_stop,
         |  len(list_distinct(ws)) AS n_dist, n_chars FROM w)
         |SELECT doc_id, n_tok, n_stop, n_dist,
         |  -800*n_tok + 3000*n_stop + 60*n_chars + 600*n_dist AS score,
         |  (-800*n_tok + 3000*n_stop + 60*n_chars + 600*n_dist) >= 0
         |    AS keep
         |FROM f ORDER BY doc_id""".stripMargin,
    "t_gate_agreement" ->
      s"""WITH w AS (SELECT doc_id, text, n_chars, $wsSql AS ws,
         |  list_filter($wsSql, x -> length(x) > 0) AS wf
         |  FROM documents),
         |f AS (SELECT doc_id,
         |  (CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
         |     AS DOUBLE)/len(ws) >= 0.8 AND
         |   CASE WHEN length(text)=0 THEN 0.0 ELSE
         |     CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '',
         |       'g')) AS DOUBLE)/length(text) END <= 0.1)
         |    AS keep_gopher,
         |  (-800*len(wf) + 3000*len(list_filter(wf,
         |     x -> x = 'the' OR x = 'a')) + 60*n_chars +
         |   600*len(list_distinct(wf))) >= 0 AS keep_logistic,
         |  len(list_filter(wf,
         |    x -> list_contains(['error','slow','dup'], x))) * 20
         |    <= len(wf) AS keep_blocklist
         |  FROM w)
         |SELECT keep_gopher, keep_logistic, keep_blocklist,
         |  count(*) AS n_docs
         |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "t_blocklist_filter" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter($wsSql, x -> length(x) > 0) AS ws FROM documents)
         |SELECT doc_id, len(ws) AS n_tok,
         |  len(list_filter(ws,
         |    x -> list_contains(['error','slow','dup'], x))) AS n_bad,
         |  len(list_filter(ws,
         |    x -> list_contains(['error','slow','dup'], x))) * 20
         |    <= len(ws) AS keep
         |FROM w ORDER BY doc_id""".stripMargin,
    "t_soft_sample" ->
      s"""WITH w AS (SELECT doc_id, n_chars,
         |  list_filter($wsSql, x -> length(x) > 0) AS ws FROM documents),
         |f AS (SELECT doc_id,
         |  -800*len(ws) + 3000*len(list_filter(ws,
         |    x -> x = 'the' OR x = 'a')) + 60*n_chars
         |    + 600*len(list_distinct(ws)) AS score,
         |  (doc_id*1103515245 + 12345) % 2147483648 AS h FROM w),
         |m AS (SELECT max(score) AS smax FROM f)
         |SELECT doc_id, score, h,
         |  h * smax < greatest(score, 0) * 2147483648 AS keep
         |FROM f, m ORDER BY doc_id""".stripMargin,
    "t_quality_rank" ->
      s"""WITH w AS (SELECT doc_id, source, n_chars,
         |  list_filter($wsSql, x -> length(x) > 0) AS ws FROM documents),
         |f AS (SELECT doc_id, source,
         |  -800*len(ws) + 3000*len(list_filter(ws,
         |    x -> x = 'the' OR x = 'a')) + 60*n_chars
         |    + 600*len(list_distinct(ws)) AS score FROM w),
         |r AS (SELECT doc_id, source, score, percent_rank() OVER (
         |  PARTITION BY source ORDER BY score, doc_id) AS pr FROM f)
         |SELECT doc_id, source, score, pr, pr >= 0.5 AS keep
         |FROM r ORDER BY source, doc_id""".stripMargin,
    "t_line_dedup" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter($wsSql, x -> length(x) > 0) AS ws FROM documents),
         |l AS (SELECT doc_id, unnest(list_transform(
         |  range(0, greatest((len(ws)-1)//10, 0) + 1),
         |  i -> {'idx': i,
         |        'line': array_to_string(ws[i*10+1 : i*10+10], ' ')}))
         |  AS u FROM w),
         |ll AS (SELECT doc_id, u.idx AS idx, u.line AS line FROM l),
         |k AS (SELECT doc_id, idx, line, row_number() OVER (
         |  PARTITION BY line ORDER BY doc_id, idx) AS rn FROM ll),
         |kept AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(line, ' ' ORDER BY idx) AS text_kept
         |  FROM k WHERE rn = 1 GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_lines FROM ll GROUP BY 1)
         |SELECT t.doc_id, t.n_lines,
         |  coalesce(kept.n_kept, 0) AS n_kept,
         |  coalesce(kept.text_kept, '') AS text_kept
         |FROM tot t LEFT JOIN kept USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "g_ppr" -> {
      // Same unrolled-round generator as g_pagerank with the
      // personalized restart: r₀ and the 150 000 base land only on
      // seed ids (doc_id % 101 = 0).
      val rounds = (1 to 3).map { i =>
        s"""m$i AS (SELECT e2.dst AS id, sum(r${i - 1}.r // od.outdeg) AS c
           |  FROM e2 JOIN r${i - 1} ON e2.src = r${i - 1}.id
           |  JOIN od ON e2.src = od.src GROUP BY 1),
           |r$i AS (SELECT r${i - 1}.id,
           |  (CASE WHEN r${i - 1}.id % 101 = 0 THEN 150000 ELSE 0 END)
           |    + (17 * coalesce(m$i.c, 0)) // 20 AS r
           |  FROM r${i - 1} LEFT JOIN m$i USING (id))""".stripMargin
      }.mkString(",\n")
      s"""WITH n AS (SELECT count(*) AS c FROM documents),
         |e AS (SELECT doc_id AS src, (doc_id*7+1) % c AS dst
         |        FROM documents, n
         |      UNION ALL
         |      SELECT doc_id, (doc_id*13+3) % c FROM documents, n),
         |e2 AS (SELECT src, dst FROM e WHERE src <> dst),
         |od AS (SELECT src, count(*) AS outdeg FROM e2 GROUP BY 1),
         |r0 AS (SELECT doc_id AS id, CAST(CASE WHEN doc_id % 101 = 0
         |  THEN 1000000 ELSE 0 END AS BIGINT) AS r FROM documents),
         |$rounds
         |SELECT id, CAST(r AS BIGINT) AS rank FROM r3
         |ORDER BY id""".stripMargin
    },
    "dq_pii_luhn" ->
      """WITH p AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id%11=0 THEN ' pay 4532015112830366 now'
        |    ELSE '' END ||
        |  CASE WHEN doc_id%13=0 THEN ' ref 1234567890123456 x'
        |    ELSE '' END AS t
        |  FROM documents),
        |c AS (SELECT doc_id, regexp_extract_all(t, '[0-9]{16}') AS cards
        |  FROM p),
        |v AS (SELECT doc_id, cards, list_filter(cards, x ->
        |  list_sum(list_transform(range(1, 17), i ->
        |    CASE WHEN i%2=1 THEN
        |      CASE WHEN CAST(x[i] AS INT)*2>9 THEN CAST(x[i] AS INT)*2-9
        |           ELSE CAST(x[i] AS INT)*2 END
        |    ELSE CAST(x[i] AS INT) END)) % 10 = 0) AS valid FROM c)
        |SELECT CAST(count(*) FILTER (WHERE len(cards)>0) AS BIGINT)
        |    AS docs_with_card,
        |  CAST(coalesce(sum(len(cards)), 0) AS BIGINT) AS n_cards,
        |  CAST(coalesce(sum(len(valid)), 0) AS BIGINT) AS n_valid,
        |  CAST(count(*) FILTER (WHERE len(valid)>0) AS BIGINT)
        |    AS docs_with_valid
        |FROM v""".stripMargin,
    "t_pii_scrub" ->
      s"""WITH p AS (SELECT doc_id, CASE WHEN doc_id%7=0
         |  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or 555-123-4567'
         |  ELSE text END AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t,'${TextFunctions.EmailRegex}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t,'${TextFunctions.PhoneRegex}')) AS BIGINT) AS n_phones,
         |  CAST(length(regexp_replace(regexp_replace(t,
         |    '${TextFunctions.EmailRegex}','<EMAIL>','g'),
         |    '${TextFunctions.PhoneRegex}','<PHONE>','g')) AS BIGINT) AS redacted_len
         |FROM p ORDER BY doc_id""".stripMargin,
    "t_neardup_best" ->
      s"""WITH RECURSIVE ${neardupPairCtesFrom("documents")},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac>=0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (SELECT src, src FROM e
         |  UNION SELECT e.src, r.dst FROM e JOIN reach r ON e.dst=r.src),
         |cc AS (SELECT src AS node, min(dst) AS cluster FROM reach GROUP BY 1),
         |qf AS (SELECT doc_id,
         |  CASE WHEN length(trim(text))=0 THEN 0 ELSE len(qws) END AS nt,
         |  CAST(length(regexp_replace(text,'[^.,!?;:]','','g')) AS DOUBLE)/length(text) AS pr,
         |  CAST(length(regexp_replace(text,'\\s','','g')) AS DOUBLE)/len(qws) AS awl
         |  FROM (SELECT doc_id, text, $wsSql AS qws FROM documents)),
         |q AS (SELECT doc_id,
         |  0.5*(CAST(least(nt,100) AS DOUBLE)/100.0) + 0.3*(1.0-pr)
         |    + 0.2*(least(awl,10.0)/10.0) AS quality FROM qf),
         |lab AS (SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster,
         |  q.quality FROM documents d LEFT JOIN cc ON d.doc_id=cc.node
         |  JOIN q ON d.doc_id=q.doc_id),
         |k AS (SELECT doc_id, row_number() OVER (PARTITION BY cluster
         |  ORDER BY quality DESC, doc_id) AS rn FROM lab)
         |SELECT doc_id FROM k WHERE rn=1 ORDER BY 1""".stripMargin,
    "t_proportional_sample" ->
      """WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_i
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_i) AS BIGINT) AS n_tot FROM n),
        |a0 AS (SELECT lang, n_i, (100*n_i) // n_tot AS base,
        |  (100*n_i) % n_tot AS rem FROM n, t),
        |x AS (SELECT CAST(100 - sum(base) AS BIGINT) AS extra FROM a0),
        |al AS (SELECT lang, n_i,
        |  CASE WHEN row_number() OVER (ORDER BY rem DESC, lang) <= extra
        |    THEN base + 1 ELSE base END AS k_i FROM a0, x),
        |p AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |  ORDER BY md5('strat-' || CAST(doc_id AS VARCHAR)), doc_id)
        |  AS pick FROM documents)
        |SELECT al.lang, al.n_i, CAST(al.k_i AS BIGINT) AS k_i, p.doc_id
        |FROM p JOIN al ON p.lang = al.lang WHERE p.pick <= al.k_i
        |ORDER BY al.lang, p.doc_id""".stripMargin,
    "t_collocations" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter($wsSql, t -> length(t)>0) AS ws FROM documents),
         |g AS (SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM w),
         |cab AS (SELECT ws[i] AS w1, ws[i+1] AS w2,
         |  CAST(count(*) AS BIGINT) AS c_ab FROM g
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |u AS (SELECT unnest(ws) AS tok FROM w),
         |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
         |  FROM u GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM u)
         |SELECT cab.w1, cab.w2, cab.c_ab, a.c AS c_a, b.c AS c_b,
         |  (CAST(n_tok AS DOUBLE) * CAST(c_ab AS DOUBLE))
         |    / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)) AS lift
         |FROM cab JOIN uni a ON cab.w1 = a.tok
         |JOIN uni b ON cab.w2 = b.tok, n
         |ORDER BY lift DESC, cab.w1, cab.w2 LIMIT 20""".stripMargin,
    "dq_dup_rate_source" ->
      """WITH g AS (SELECT source, md5(text) AS h,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c - 1) AS BIGINT) AS n_dup_rows,
        |  CAST(sum(c - 1) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
        |    AS dup_rate
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_lexical_richness" ->
      s"""WITH w AS (SELECT lang,
         |  list_filter($wsSql, t -> length(t)>0) AS ws FROM documents),
         |u AS (SELECT lang, unnest(ws) AS tok FROM w),
         |wc AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM u GROUP BY 1, 2)
         |SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hapax,
         |  CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS hapax_share
         |FROM wc GROUP BY 1 ORDER BY 1""".stripMargin
  )

  private lazy val chisqStreamOracle: String =
    chisqOracle
      .replace("WHERE doc_id % 2 = 0", "WHERE doc_id % 2 = 0 AND lang IS NOT NULL")
      .replace("WHERE doc_id % 2 = 1", "WHERE doc_id % 2 = 1 AND lang IS NOT NULL")

  private lazy val chisqOracle: String =
    """WITH a AS (SELECT lang AS cat, count(*) AS n_a FROM documents
      |  WHERE doc_id % 2 = 0 GROUP BY 1),
      |b AS (SELECT lang AS cat, count(*) AS n_b FROM documents
      |  WHERE doc_id % 2 = 1 GROUP BY 1),
      |j AS (SELECT coalesce(a.cat, b.cat) AS cat,
      |  CAST(coalesce(a.n_a, 0) AS BIGINT) AS n_a,
      |  CAST(coalesce(b.n_b, 0) AS BIGINT) AS n_b
      |  FROM a FULL OUTER JOIN b ON a.cat = b.cat),
      |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
      |  CAST(sum(n_b) AS BIGINT) AS tb FROM j)
      |SELECT cat, n_a, n_b,
      |  CAST(CAST(tb*n_a - ta*n_b AS DECIMAL(38,0)) *
      |       CAST(tb*n_a - ta*n_b AS DECIMAL(38,0)) AS DOUBLE) /
      |  CAST(CAST(ta*tb AS DECIMAL(38,0)) *
      |       CAST(n_a + n_b AS DECIMAL(38,0)) AS DOUBLE) AS contrib
      |FROM j, t ORDER BY cat""".stripMargin
}
