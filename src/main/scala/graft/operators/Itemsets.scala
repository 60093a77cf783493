package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequent-itemset mining over basket-shaped relations (the
  * market-basket / co-occurrence operator — "parts ordered together",
  * "tokens co-occurring in documents").
  *
  * The scale shape is the textbook a-priori argument made physical:
  *   1. ONE distinct pass dedupes (basket, item) and counts per-item
  *      basket support — a hash aggregate, linear.
  *   2. Items below `minSupport` CANNOT appear in a frequent pair
  *      (monotonicity), so the frequent-item set broadcasts back and
  *      prunes the baskets map-side BEFORE any pair is generated.
  *   3. Candidate pairs come from a basket-keyed self-join of the pruned
  *      relation: cost is Σ|basket∩frequent|² — bounded by the prune and
  *      by real basket sizes (orders have a handful of lines), never
  *      N². Basket-size skew (one giant basket) is the LSH-bucket skew
  *      failure mode and takes the same mitigations (AQE skew split; a
  *      hard basket cap if the domain allows it).
  *
  * Confidence/lift come free from the counts already in hand: lift is a
  * SINGLE division of exact integers (support·totalBaskets / n_a·n_b), so
  * the double is bit-reproducible across engines.
  */
object Itemsets {

  /** The distinct (basket, item) relation, staged once: support counts
    * baskets, not line repeats, and every downstream pass (per-item
    * counts, the basket total, the pair self-join) re-reads it — left
    * lazy each would re-run the full upstream scan+shuffle.
    */
  private def basketRelation(baskets: DataFrame, basketCol: String,
                             itemCol: String): DataFrame =
    // NOT reader-spread (round 15, measured): the projection here is two
    // long columns — cheap enough that a spread exchange costs more than
    // the serial scan-side partial distinct it would parallelize
    // (fi_*/g_* steady-state mins rose ~0.2-0.5 s each under a spread).
    //
    // Partitioned BY BASKET before the distinct (round 16):
    // hashpartitioning(bk) satisfies the distinct's (bk, it) clustering,
    // so the distinct runs without a second exchange. The layout does NOT
    // survive staging: in Spark 4.1.2 a localCheckpoint() result reports
    // UnknownPartitioning(0) (AQE on or off), so a pair self-join too big
    // to broadcast plans `Exchange hashpartitioning(bk, n),
    // ENSURE_REQUIREMENTS` above the staged `Scan ExistingRDD` on each
    // side. Only an unstaged relation would reuse this REPARTITION_BY_COL
    // exchange.
    baskets.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .where(col("bk").isNotNull && col("it").isNotNull)
      .repartition(col("bk"))
      .dropDuplicates("bk", "it")
      .localCheckpoint()

  /** Prune → self-join → count over a staged basket relation `b`.
    *
    * r16 shape notes (guide §2.3 "shuffle fewer bytes"): the pair count
    * groups on the two item ids ALONE — the per-item supports n_a/n_b
    * are functions of the items, so they re-attach to the few SURVIVING
    * pairs through the already-broadcast frequent-item relation instead
    * of widening every pre-aggregate pair row (sf0.1: 1.2M pair rows,
    * nearly all distinct, versus 3.6k survivors — the old 4-long key
    * paid its extra 16 bytes 1.2M times to carry what a 3.6k-row
    * broadcast join recovers).
    */
  private def pairsFrom(b: DataFrame, minSupport: Long): DataFrame = {
    val frequent = b.groupBy(col("it"))
      .agg(count(lit(1)).as("n_item"))
      .where(col("n_item") >= minSupport)
    val pruned = b.join(broadcast(frequent.select(col("it"))), "it")
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
      .groupBy(col("a.it").as("item_a"), col("b.it").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
      .join(broadcast(frequent.select(col("it").as("item_a"),
        col("n_item").as("n_a"))), Seq("item_a"))
      .join(broadcast(frequent.select(col("it").as("item_b"),
        col("n_item").as("n_b"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("support"),
        col("n_a"), col("n_b"))
  }

  /** Frequent pairs WITHOUT the lift column — the set-shaped output for
    * callers that only consume the pair keys (stability overlap,
    * candidate feeds, the graph queries). Skips the basket-total
    * aggregate and its 1-row broadcast join entirely, so the plan is
    * prune → self-join → count, nothing else.
    *
    * @return (item_a, item_b, support, n_a, n_b) with item_a < item_b.
    */
  def frequentPairsRaw(baskets: DataFrame, basketCol: String,
                       itemCol: String, minSupport: Long): DataFrame =
    pairsFrom(basketRelation(baskets, basketCol, itemCol), minSupport)

  /** Frequent co-occurring pairs with support ≥ `minSupport`.
    *
    * @return (item_a, item_b, support, n_a, n_b, lift) with
    *         item_a < item_b, one row per frequent pair.
    *
    * The lift total and the pair join read the SAME staged basket
    * relation — one materialization per call (an r6 refactor computed
    * the relation twice, once un-staged for the total: ADVICE r6).
    */
  def frequentPairs(baskets: DataFrame, basketCol: String, itemCol: String,
                    minSupport: Long): DataFrame = {
    val b = basketRelation(baskets, basketCol, itemCol)
    // Broadcast-scalar basket total (for lift) — no single-partition
    // window, same pattern as the dashboard share-of-total queries.
    // `b` is already distinct on (bk, it), so the distinct-basket count
    // is a plain count over the bk projection's distinct.
    val total = b.agg(countDistinct(col("bk")).as("_n_baskets"))
    pairsFrom(b, minSupport).crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("support"),
        col("n_a"), col("n_b"),
        (col("support") * col("_n_baskets")).cast("double")
          ./(col("n_a") * col("n_b")).as("lift"))
  }

  /** Item-item COSINE similarity top-k — the "customers also bought"
    * ranking: sim(a,b) = c_ab / √(n_a·n_b) over basket co-occurrence
    * counts (the binary-vector cosine), every input an exact integer
    * from [[frequentPairs]], the only floats ONE √ and ONE division —
    * bit-reproducible.
    *
    * Scale: pairs come from the a-priori-pruned self-join; the top-k
    * window runs over PAIR rows partitioned by item (each partition =
    * one item's frequent co-occurrences — bounded by the prune), never
    * over baskets. Pairs symmetrize first so every item ranks its full
    * neighborhood.
    */
  def cosineTopK(baskets: DataFrame, basketCol: String, itemCol: String,
                 minSupport: Long, k: Int): DataFrame = {
    val p = frequentPairsRaw(baskets, basketCol, itemCol, minSupport)
    val sym = p.select(col("item_a").as("item"), col("item_b").as("other"),
        col("support"), col("n_a").as("ni"), col("n_b").as("no"))
      .unionByName(p.select(col("item_b").as("item"),
        col("item_a").as("other"), col("support"),
        col("n_b").as("ni"), col("n_a").as("no")))
      .withColumn("sim", col("support").cast("double") /
        sqrt((col("ni") * col("no")).cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("sim").desc, col("other"))
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("item"), col("other"), col("support"), col("sim"),
        col("rank"))
  }
}
