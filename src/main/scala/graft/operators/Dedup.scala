package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for large-scale corpus curation.
  *
  * Scale design (the whole point of these rewrites):
  *  - exact dedup shuffles once, hash-partitioned BY THE CONTENT HASH —
  *    the natural key — so it scales linearly and skews only if the data
  *    actually contains mega-duplicates (AQE splits those);
  *  - near-dup is MinHash-LSH: candidates are generated ONLY within LSH
  *    buckets (one explode + one equi-join on the band key), never by an
  *    all-pairs product. All-pairs at 100 TB is ~10^16 comparisons;
  *    banded LSH is linear in corpus size for bounded bucket width.
  *  - signatures/fingerprints are per-row projections (TextFunctions), so
  *    everything before the bucket join runs map-side at scan speed.
  */
object Dedup {

  /** Exact-duplicate statistics: one row per distinct content hash with
    * its multiplicity and the surviving (minimum) id.
    */
  def exactDupStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("dup_cnt"), min(col(idCol)).as("keeper"))

  /** Content-hash multiplicities WITHOUT the keeper pick: one
    * (h, n) row per distinct md5(text) — the additive table the
    * dup-rate monitor maintains. Shared by the batch `t_dup_rate` gate
    * and the streamed face ([[graft.streaming.DupRateStream]]) so the
    * two can never drift; hash counts are plain additive integers,
    * sum-mergeable across batches/partitions/days by construction.
    */
  def contentHashCounts(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n"))

  /** The corpus-freshness report from an ALREADY-AGGREGATED (h, n)
    * table — one row: total docs, distinct contents, exact-duplicate
    * docs (Σ(n−1)), and the duplicate share. Counts are exact longs;
    * the rate is ONE IEEE division of exact integers, sequenced
    * identically in the oracle. The state this reads is
    * distinct-content-sized — the exact face; the fixed-size path at
    * extreme scale is the bloom prune ([[graft.operators.Sketches.bloomPrunedNewRows]]),
    * which answers membership, not multiplicity.
    */
  def dupRateFromCounts(counts: DataFrame): DataFrame =
    counts.agg(
      // Integer columns coalesce to 0 so a ZERO-ROW input (the streamed
      // face's report-before-first-batch) reads as an explicit empty
      // corpus, mirrored in the oracle; dup_rate stays NULL there (0/0
      // has no answer) in both engines.
      coalesce(sum(col("n")), lit(0L)).cast("long").as("n_docs"),
      count(lit(1)).cast("long").as("n_distinct"),
      coalesce(sum(col("n") - lit(1L)), lit(0L)).cast("long")
        .as("dup_docs"),
      (sum(col("n") - lit(1L)).cast("double") /
        sum(col("n")).cast("double")).as("dup_rate"))

  /** Exact dedup: keep the minimum-id row per content hash. Implemented
    * as a window-free two-phase aggregate + semi-join so the wide payload
    * is shuffled once at most.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(
      exactDupStats(df, idCol, textCol)
        .select(col("keeper").as(idCol)),
      Seq(idCol), "left_semi")

  /** Per-doc (shingles, 12-slot signature) table, EAGERLY materialized
    * (`localCheckpoint`): the banded self-join reads it twice and the
    * verify join twice more, so without a boundary the signature scan —
    * the funnel's dominant linear pass — re-runs once per reference. At
    * 100 TB this is the signature staging table written to the lake.
    */
  private def minhashBase(df: DataFrame, idCol: String, textCol: String,
                          k: Int, shingleN: Int): DataFrame = {
    // Shingles staged SORTED: the minhash transform is order-independent
    // and every downstream consumer is [[jaccard]]'s sorted-merge kernel.
    graft.functions.NativeFunctions.register(df.sparkSession)
    df.select(col(idCol),
        sortedShingles(col(textCol), shingleN).as("sh"))
      .select(col(idCol), col("sh"),
        minhashFromShingles(col("sh"), k).as("sig"))
      .localCheckpoint()
  }

  private def candidatesFromBase(base: DataFrame, idCol: String,
                                 numBands: Int, r: Int): DataFrame = {
    val banded = base.select(col(idCol),
      explode(lshBands(col("sig"), numBands, r)).as("band"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .dropDuplicates()
  }

  /** MinHash-LSH near-duplicate candidate pairs (id_a < id_b), via
    * `numBands` bands of `r` signature slots. Only bucket-mates become
    * candidates.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numBands: Int = 6, r: Int = 2,
                        shingleN: Int = 3): DataFrame =
    candidatesFromBase(minhashBase(df, idCol, textCol, numBands * r, shingleN),
      idCol, numBands, r)

  /** MinHash calibration: for every LSH candidate pair, the sketch's
    * Jaccard ESTIMATE (fraction of agreeing signature slots — the unbiased
    * MinHash estimator) next to the exact shingle Jaccard. This is the
    * query that validates a sketch deployment: at scale you spot-check the
    * estimator's error on a sample before trusting it to gate dedup.
    */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
                         numBands: Int = 6, r: Int = 2,
                         shingleN: Int = 3): DataFrame = {
    val k = numBands * r
    val base = minhashBase(df, idCol, textCol, k, shingleN)
    val matches = aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (a, b) => when(a === b, lit(1L)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
    candidatesFromBase(base, idCol, numBands, r)
      .join(base.select(col(idCol).as("id_a"), col("sig").as("sig_a"),
        col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col(idCol).as("id_b"), col("sig").as("sig_b"),
        col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (matches / lit(k.toDouble)).as("jac_est"),
        jaccard(col("sh_a"), col("sh_b")).as("jac_exact"))
  }

  /** Exact n-gram Jaccard similarity between two shingle-set columns,
    * via |A∩B| / (|A|+|B|-|A∩B|) — a ratio of exact integers.
    *
    * CONTRACT: both arrays sorted ascending (the [[TextFunctions
    * .sortedShingles]] build form — every in-repo producer). |A∩B| is
    * the native [[graft.functions.SortedIntersectSize]] merge: zero
    * allocation per pair, vs the built-in `array_intersect`'s hash set
    * plus materialized result array that `size` immediately discards.
    * The verify joins evaluate this once per candidate pair — the hot
    * row count of the whole near-dup funnel.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.NativeFunctions.sortedIntersectSize(a, b)
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Near-duplicate pairs: LSH candidates verified by exact shingle
    * Jaccard >= threshold. The verify join re-reads only candidate rows.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, numBands: Int = 6, r: Int = 2,
                   shingleN: Int = 3): DataFrame = {
    val base = minhashBase(df, idCol, textCol, numBands * r, shingleN)
    candidatesFromBase(base, idCol, numBands, r)
      .join(base.select(col(idCol).as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(base.select(col(idCol).as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Blocked exact n-gram Jaccard: all pairs WITHIN a blocking key (e.g.
    * (lang, source)) — the classic bounded-block alternative when a
    * natural partition exists. Never unblocked all-pairs.
    */
  def blockedJaccard(df: DataFrame, idCol: String, textCol: String,
                     blockCols: Seq[String], threshold: Double,
                     shingleN: Int = 3): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    val sh = df.select((blockCols.map(col) :+ col(idCol) :+
      sortedShingles(col(textCol), shingleN).as("sh")): _*)
    sh.as("a").join(sh.as("b"),
        blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
          .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("jac", jaccard(col("a.sh"), col("b.sh")))
      .where(col("jac") >= threshold)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("jac"))
  }

  /** Winnowing fingerprints (the MOSS local-fingerprint scheme) as a
    * per-doc summary: hash every `k`-word shingle, slide a window of `w`
    * consecutive hashes, keep each window's MINIMUM, dedupe. Guarantees
    * every match of ≥ w+k−1 tokens shares a fingerprint while keeping
    * ~2/(w+1) of the hashes — the plagiarism/attribution-grade LOCAL
    * fingerprint (t_fingerprint's whole-doc min only detects identical
    * docs).
    *
    * Shape: gram hashes EXPLODE to rows and the sliding min is a
    * `ROWS w−1 PRECEDING` window over (doc, pos) — codegen'd md5 + one
    * sort-within-doc WindowExec, one shuffle on the doc id. The
    * all-array form (lambda of array_min-over-slice per window) is
    * 500× slower at sf0.1: nested higher-order lambdas run interpreted,
    * outside whole-stage codegen. Partial leading windows are dropped
    * (pos ≥ w−1) except when a short doc has fewer than w grams, where
    * the last (truncated) window stands for the whole doc — exactly the
    * oracle's array semantics.
    * @return (idCol, n_fp, fp_min, fp_max)
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame =
    winnowFpSets(df, idCol, textCol, k, w)
      .select(col(idCol),
        size(col("_fps")).cast("long").as("n_fp"),
        array_min(col("_fps")).as("fp_min"),
        array_max(col("_fps")).as("fp_max"))

  /** Per-doc DISTINCT winnow fingerprint SET as one array column
    * (`_fps`, sorted ascending) — the round-16 native form: the whole
    * hash+window+dedupe pipeline is ONE per-row projection
    * ([[graft.functions.WinnowFpSet]]), so the fingerprint path carries
    * no per-gram explode, no per-doc window sort, and no exchange at
    * all until a consumer joins. The pre-r16 rows+window form computed
    * the same values through a posexplode + `ROWS w−1 PRECEDING` window
    * (one shuffle on the doc id) — correct, but its interpreted
    * gram-hash lambda re-tokenized per gram and the generate's inferred
    * `size > 0` filter re-ran the whole chain scan-side (a 3.7 s
    * single-task stage at sf0.1).
    */
  def winnowFpSets(df: DataFrame, idCol: String, textCol: String,
                   k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"need k,w >= 1; got k=$k w=$w")
    graft.functions.NativeFunctions.register(df.sparkSession)
    df.select(col(idCol), graft.functions.NativeFunctions
      .winnowFpSet(tokens(col(textCol)), k, w).as("_fps"))
  }

  /** The fingerprint ROWS behind [[winnowFingerprints]]: one DISTINCT
    * (idCol, _wmin) row per fingerprint value the doc's selected
    * windows produced (r16 note: pre-r16 this emitted one row per
    * WINDOW, duplicates included — every consumer deduped, so the
    * distinct-set form is a drop-in that saves consumers their
    * `.distinct()` exchange). Also the join side for fingerprint-match
    * candidate generation: two docs sharing a passage share a `_wmin`
    * value, so an equi-join on it is the candidate pass.
    */
  def winnowSets(df: DataFrame, idCol: String, textCol: String,
                 k: Int, w: Int): DataFrame =
    winnowFpSets(df, idCol, textCol, k, w)
      .select(col(idCol), explode(col("_fps")).as("_wmin"))

  /** Blocked exact n-gram CONTAINMENT: directional near-dup —
    * |A ∩ B| / |A| ≥ pct/100 flags A as (mostly) contained in B, the
    * asymmetric relation Jaccard misses when a short doc is swallowed by
    * a long one (quote-plus-commentary, boilerplate-wrapped reposts —
    * exactly the web-corpus case). Same bounded-block posture as
    * [[blockedJaccard]]; the threshold test is the cross-multiplied
    * integer comparison (inter·100 ≥ pct·|A|, no float compare), and the
    * reported ratio is one exact-int division. Emits BOTH directions of
    * a pair when both hold.
    */
  def blockedContainment(df: DataFrame, idCol: String, textCol: String,
                         blockCols: Seq[String], pct: Int,
                         shingleN: Int = 3): DataFrame = {
    require(pct > 0 && pct <= 100, s"pct must be in (0,100]: $pct")
    graft.functions.NativeFunctions.register(df.sparkSession)
    val sh = df.select((blockCols.map(col) :+ col(idCol) :+
      sortedShingles(col(textCol), shingleN).as("sh")): _*)
    sh.as("a").join(sh.as("b"),
        blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
          .reduce(_ && _) && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .withColumn("_i", graft.functions.NativeFunctions
        .sortedIntersectSize(col("a.sh"), col("b.sh")))
      .where(col("_i") * 100 >= lit(pct) * size(col("a.sh")))
      .select(col(s"a.$idCol").as("id_in"), col(s"b.$idCol").as("id_out"),
        (col("_i").cast("double") / size(col("a.sh"))).as("containment"))
  }

  /** SimHash table: 64-bit locality-sensitive bit signature per row —
    * near-dups differ in few bits (Hamming). Per-row projection.
    */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), simhash64(col(textCol)).as("simhash"))

  /** SimHash near-duplicate pairs by Hamming distance, with MULTI-BLOCK
    * candidate generation (the Manku/Jain/Sarma web-dedup recipe): split
    * the 64-bit signature into `maxHamming + 1` blocks — any pair within
    * the distance budget must agree EXACTLY on at least one block
    * (pigeonhole), so candidates come from one equi-join per block on the
    * block value, never an all-pairs product. Verification recomputes the
    * exact bit-wise Hamming distance on candidates only.
    *
    * With 64 signature bits each block spans ≥ 64/(maxHamming+1) bits
    * (maxHamming=3 → the classic 4×16-bit split, 65,536 key values per
    * block), so block-key cardinality grows with the corpus instead of
    * capping out — the property that keeps Σ|block|² ≪ N² at 100 TB.
    * Block-value skew (a common signature prefix) is the LSH-bucket skew
    * failure mode again and takes the same mitigations (AQE skew split /
    * bucket-size cap).
    */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3): DataFrame = {
    // Guard: nBlocks > SimhashBits would create zero-width blocks whose
    // empty-string key equi-joins everything with everything. Cap at 16
    // blocks (≥4-bit keys) — beyond that the pigeonhole recipe is the
    // wrong tool anyway.
    require(maxHamming >= 0 && maxHamming < 16,
      s"maxHamming must be in [0, 16), got $maxHamming")
    // The verify step uses the native hamming_dist expression; make its
    // registration unconditional (idempotent) so the operator works on
    // sessions built without GraftExtensions.
    graft.functions.NativeFunctions.register(df.sparkSession)
    // Eagerly materialized: the 4-block candidate generation reads this
    // table 8 ways (2 sides x 4 blocks) — without the boundary the
    // signature scan re-runs per reference.
    val t = simhashTable(df, idCol, textCol).localCheckpoint()
    val nBlocks = maxHamming + 1
    val bounds = (0 to nBlocks).map(i => 1 + i * SimhashBits / nBlocks)
    val perBlock = (0 until nBlocks).map { b =>
      val (from, until) = (bounds(b), bounds(b + 1))
      val block = substring(col("simhash"), from, until - from)
      val side = t.select(col(idCol), col("simhash"), block.as("blk"))
      side.as("a").join(side.as("b"),
          col("a.blk") === col("b.blk") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
          col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
    }
    // Native fused expression: one byte loop instead of 64 chained
    // substring comparisons (same value; graft.functions.HammingDistance).
    val hamming =
      graft.functions.NativeFunctions.hammingDist(col("sh_a"), col("sh_b"))
    perBlock.reduce(_ unionByName _)
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming)
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Near-dup CLUSTER assignment: connected components over the pair
    * graph — [[Graph.connectedComponents]]'s min-label loop, run to its
    * fixed point (near-dup clusters are shallow, so usually 2–3 rounds;
    * at most 20).
    *
    * This is the step that turns pairwise near-dup evidence into a dedup
    * DECISION (one keeper per cluster — the minimum id, which is exactly
    * the converged label). At 100 TB use a reliable checkpoint dir
    * instead of the loop's `localCheckpoint`; rounds remain O(log n)
    * worst-case, O(diameter) typical.
    *
    * @param pairs candidate/verified pairs (aCol < bCol, one row per pair)
    * @return DataFrame[node, cluster] for every node appearing in `pairs`
    *         (nodes with no near-dup are singletons and not emitted).
    */
  def connectedComponents(pairs: DataFrame, aCol: String,
                          bCol: String): DataFrame =
    Graph.connectedComponents(pairs, aCol, bCol, rounds = 20)
      .select(col("node"), col("comp").as("cluster"))

  /** Full near-dup dedup: the surviving rows after dropping every cluster
    * member except its keeper (the minimum id). Pairs → components →
    * anti-join; docs with no near-dup survive untouched.
    */
  def nearDedupKept(df: DataFrame, idCol: String, textCol: String,
                    threshold: Double): DataFrame = {
    val cc = connectedComponents(
      nearDupPairs(df, idCol, textCol, threshold), "id_a", "id_b")
    df.join(cc.where(col("node") =!= col("cluster"))
        .select(col("node").as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** Incremental dedup: the rows of a NEW batch that survive against an
    * EXISTING corpus — exact duplicates (same content hash as any corpus
    * doc) and near-duplicates (MinHash-LSH candidate sharing a band key
    * with a corpus doc, verified by exact shingle Jaccard >= threshold)
    * are dropped; the corpus itself is never rewritten. This is the
    * recurring-ingest shape: each crawl increment dedups against the
    * lake, not only against itself.
    *
    * Scale: the exact pass is a hash anti-join (shuffle partitioned by
    * the content hash). The near-dup pass generates candidates ONLY
    * across the band-key equi-join between batch and corpus signatures —
    * |batch| is increment-sized, so the verify join touches batch-side
    * posting lists, never corpus×corpus. At the lake the corpus
    * signature table is the staging table [[minhashBase]] materializes —
    * computed once per increment here, persisted once ever there.
    */
  def incrementalKept(newDf: DataFrame, corpus: DataFrame, idCol: String,
                      textCol: String, threshold: Double,
                      numBands: Int = 6, r: Int = 2,
                      shingleN: Int = 3): DataFrame = {
    val exactSurvivors = newDf.join(
      corpus.select(md5(col(textCol)).as("_h")).distinct(),
      md5(col(textCol)) === col("_h"), "left_anti")
    val k = numBands * r
    val nb = minhashBase(exactSurvivors, idCol, textCol, k, shingleN)
    val cb = minhashBase(corpus, idCol, textCol, k, shingleN)
    def bandKeys(base: DataFrame, side: String) = base.select(
      col(idCol).as(s"id_$side"),
      explode(lshBands(col("sig"), numBands, r)).as("band"))
    val cand = bandKeys(nb, "new").join(bandKeys(cb, "old"), Seq("band"))
      .select(col("id_new"), col("id_old")).dropDuplicates()
    val flagged = cand
      .join(nb.select(col(idCol).as("id_new"), col("sh").as("sh_new")),
        Seq("id_new"))
      .join(cb.select(col(idCol).as("id_old"), col("sh").as("sh_old")),
        Seq("id_old"))
      .where(jaccard(col("sh_new"), col("sh_old")) >= threshold)
      .select(col("id_new").as(idCol)).distinct()
    exactSurvivors.join(flagged, Seq(idCol), "left_anti")
  }

  /** [[nearDedupKept]] with a QUALITY-AWARE keeper: each cluster keeps its
    * highest-`score` member (ties → smallest id) instead of blindly the
    * minimum id — what a curation pipeline actually wants, since near-dup
    * clusters usually mix a clean original with degraded copies.
    *
    * The cluster labels cover only clustered docs (a small fraction of the
    * corpus), so the label join and the keeper semi-join are
    * broadcast-sized in practice; unclustered docs label themselves and
    * are their own keeper. One extra hash aggregate over |clustered docs|
    * versus [[nearDedupKept]] — negligible against candidate generation.
    *
    * @param score any deterministic expression over `df`'s columns
    */
  def nearDedupKeptBest(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, score: Column): DataFrame = {
    val cc = connectedComponents(
      nearDupPairs(df, idCol, textCol, threshold), "id_a", "id_b")
    val labeled = df
      .join(cc.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol)).as("_cluster"),
        score.as("_score"))
    val keepers = labeled.groupBy(col("_cluster"))
      .agg(min_by(col(idCol),
        struct((-col("_score")).as("_neg"), col(idCol))).as(idCol))
      .select(col(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }
}
