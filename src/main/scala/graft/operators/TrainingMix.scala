package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-mix assembly: the last mile of a training-data pipeline, after
  * curation — decide HOW MUCH of each source to keep ([[weightedMix]],
  * [[trimToTokenBudget]]) and HOW the surviving documents are laid out into
  * fixed-size training sequences ([[packSequences]]).
  *
  * Scale design:
  *  - mixing is a pure per-row hash predicate — map-side, zero shuffle, and
  *    reproducible on any engine (md5 threshold, no RNG state);
  *  - packing and trimming both need a RUNNING TOTAL over a global (or
  *    per-source) document order. The naive form is one `sum() OVER
  *    (ORDER BY ...)` window — a single task sorting the whole corpus. Here
  *    it is the classic two-phase distributed prefix sum instead
  *    ([[withRunningTotal]]): range-partition by the order key, local
  *    window per partition, plus a broadcast of per-partition totals
  *    (thousands of rows, not billions) whose tiny running sum provides
  *    each partition's offset. Every data-sized operation stays
  *    partition-parallel; the only serial window runs over the partition
  *    COUNT, not the row count.
  */
object TrainingMix {

  /** Adds `out` = running total of `valCol` (cast to long) over the total
    * order `ordCols` within each `partCols` group (empty `partCols` =
    * one global order), computed as a two-phase distributed prefix sum.
    *
    * `ordCols` must be a TOTAL order (include a unique id as the last
    * key): the result is then independent of how rows land in range
    * partitions, so the range partitioner's sampled bounds never affect
    * values. `partCols` values must be non-null (the offset join-back is
    * an equi-join; a null group key would silently drop its rows) —
    * `coalesce` a nullable source column before grouping on it. The staged frame is materialized (`localCheckpoint`) because
    * `spark_partition_id()` must stay pinned across the two reads (totals
    * + join-back); at warehouse scale this is the staging table the job
    * would persist anyway.
    */
  def withRunningTotal(df: DataFrame, partCols: Seq[String],
                       ordCols: Seq[Column], valCol: Column, out: String,
                       numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val rangeKeys = partCols.map(col) ++ ordCols
    val staged = df.withColumn("_val", valCol.cast("long"))
      .repartitionByRange(n, rangeKeys: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    // Per-(partition, group) totals: ≤ n · |groups| rows. The running sum
    // over them is the ONLY unbounded window in the plan and it ranges
    // over this tiny relation, never the data.
    val totals = staged
      .groupBy(col("_pid") +: partCols.map(col): _*)
      .agg(sum(col("_val")).as("_psum"))
    val offW = Window.partitionBy(partCols.map(col): _*).orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("_offset", coalesce(sum(col("_psum")).over(offW), lit(0L)))
      .drop("_psum")
    val localW = Window.partitionBy(col("_pid") +: partCols.map(col): _*)
      .orderBy(ordCols: _*).rowsBetween(Window.unboundedPreceding, 0)
    staged.join(broadcast(offsets), "_pid" +: partCols)
      .withColumn(out, sum(col("_val")).over(localW) + col("_offset"))
      .drop("_pid", "_val")
  }

  /** Hex threshold for a keep-rate: `md5(id) < threshold` keeps exactly
    * `floor(rate·16^8)/16^8` of a uniform hash population. String
    * comparison is hex-order-correct (lowercase hex: '0'-'9' < 'a'-'f' in
    * ASCII), so both Spark and any SQL oracle evaluate it identically
    * with no hex→integer conversion.
    */
  def rateThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate < 1.0, s"rate must be in [0,1), got $rate")
    f"${(rate * 4294967296L).toLong}%08x"
  }

  /** Deterministic weighted source mixing: keep each row of source `s`
    * with probability `rates(s)` (default rate for unlisted sources),
    * decided by the row's own id hash — no RNG, no seed drift, identical
    * on re-runs and across engines. Per-row predicate: zero shuffle at
    * any corpus size, and the filter pushes toward the scan.
    *
    * Rates ≥ 1.0 keep the source whole.
    */
  def weightedMix(df: DataFrame, sourceCol: String, idCol: String,
                  rates: Map[String, Double],
                  defaultRate: Double = 1.0): DataFrame = {
    def keep(rate: Double): Column =
      if (rate >= 1.0) lit(true)
      else md5(col(idCol).cast("string")) < lit(rateThreshold(rate))
    val pred = rates.foldLeft(keep(defaultRate)) { case (els, (src, rate)) =>
      when(col(sourceCol) === lit(src), keep(rate)).otherwise(els)
    }
    df.where(pred)
  }

  /** Leakage-safe train/val/test assignment: a document inherits its
    * near-dup CLUSTER's split, decided by the deterministic hash of the
    * cluster label — near-duplicates therefore CANNOT straddle
    * train/eval, closing the contamination channel a per-document split
    * leaves open (a paraphrase of a training doc landing in the eval
    * set). Docs in no near-dup pair are their own singleton cluster.
    *
    * Same zero-shuffle hash-threshold discipline as [[weightedMix]]:
    * the split is a per-row projection once the cluster label is
    * joined; no RNG, identical on re-runs and across engines.
    *
    * @param clusters (node, cluster) labels from
    *                 [[Dedup.connectedComponents]] (the near-dup face
    *                 of [[Graph.connectedComponents]]) over near-dup
    *                 pairs.
    * @return (idCol, cluster, split ∈ test|val|train)
    */
  def splitAssignments(docs: DataFrame, idCol: String, clusters: DataFrame,
                       testRate: Double, valRate: Double): DataFrame = {
    require(testRate >= 0 && valRate >= 0 && testRate + valRate < 1.0,
      s"rates must fit in [0,1): test=$testRate val=$valRate")
    val labeled = docs.select(col(idCol))
      .join(clusters.select(col("node").as(idCol), col("cluster")),
        Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
    val h = md5(col("cluster").cast("string"))
    labeled.withColumn("split",
      when(h < lit(rateThreshold(testRate)), "test")
        .when(h < lit(rateThreshold(testRate + valRate)), "val")
        .otherwise("train"))
  }

  /** Concat-and-chunk sequence packing (the standard LM training layout):
    * documents are laid out in a deterministic pseudorandom order
    * (md5(id) — the training shuffle), token counts are concatenated, and
    * the stream is cut every `budgetTokens`; a document belongs to the
    * pack where it STARTS. Returns (id, n_tok, pack_id).
    *
    * The global running total uses [[withRunningTotal]] — no task ever
    * sorts or sums the whole corpus.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: Column,
                    budgetTokens: Long,
                    numPartitions: Int = 0): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    val ord = Seq(md5(col(idCol).cast("string")), col(idCol))
    withRunningTotal(df.select(col(idCol), tokenCol.cast("long").as("n_tok")),
        Nil, ord, col("n_tok"), "_cum", numPartitions)
      .select(col(idCol), col("n_tok"),
        floor((col("_cum") - col("n_tok")) / lit(budgetTokens.toDouble))
          .cast("long").as("pack_id"))
  }

  /** Deterministic shard assignment for training export: documents land in
    * md5 shuffle order, `docsPerShard` per shard — [[packSequences]] with a
    * unit token weight (shard = floor(rank/docsPerShard)). Returns
    * (id, shard_id).
    */
  def shardAssignments(df: DataFrame, idCol: String, docsPerShard: Long,
                       numPartitions: Int = 0): DataFrame =
    packSequences(df, idCol, lit(1L), docsPerShard, numPartitions)
      .select(col(idCol), col("pack_id").as("shard_id"))

  /** Write the corpus as training shards: assign shard ids
    * ([[shardAssignments]]), cluster rows by shard, and write
    * shard-partitioned parquet. One file per shard directory
    * (shards are budget-bounded by construction — that bound, not a file
    *-size knob, is what keeps output files uniform), rows inside a shard
    * laid out in the deterministic shuffle order a training loader reads
    * sequentially.
    */
  def writeShards(df: DataFrame, idCol: String, docsPerShard: Long,
                  outDir: String): Unit =
    df.join(shardAssignments(df, idCol, docsPerShard), Seq(idCol))
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), md5(col(idCol).cast("string")),
        col(idCol))
      .write.mode("overwrite").partitionBy("shard_id").parquet(outDir)

  /** Per-source token-budget trimming: within each source, keep documents
    * best-first (by `scoreCol` descending, id tie-break) until the token
    * budget is reached — a document is kept iff the tokens BEFORE it in
    * its source's quality order are under budget (so each source overshoots
    * by at most one document, and never undershoots).
    *
    * The per-source running totals ride the same two-phase prefix sum;
    * range partitioning on (source, score desc, id) spreads every large
    * source across many partitions instead of funneling it through one
    * task — the exact failure mode the stratified-sampling rewrite
    * eliminated, avoided here by construction.
    */
  def trimToTokenBudget(df: DataFrame, sourceCol: String, idCol: String,
                        scoreCol: Column, tokenCol: Column,
                        budgetTokens: Long,
                        numPartitions: Int = 0): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    val prepared = df
      .withColumn("_score", scoreCol)
      .withColumn("_tok", tokenCol.cast("long"))
    withRunningTotal(prepared, Seq(sourceCol),
        Seq(col("_score").desc, col(idCol)), col("_tok"), "_cum",
        numPartitions)
      .where(col("_cum") - col("_tok") < budgetTokens)
      .drop("_score", "_tok", "_cum")
  }
}
