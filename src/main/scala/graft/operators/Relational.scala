package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Core relational operators (SURVEY.md §2.2–§2.4) as reusable,
  * plan-friendly building blocks. Everything here stays inside
  * `org.apache.spark.sql.functions` so Catalyst can fuse/push/prune and
  * whole-stage codegen covers the hot path — no UDFs, no driver-side loops.
  */
object Relational {

  /** P7–P9: join-key normalization as used by the reference's merge
    * (merge_to_dw.py:63): null → "" (so null keys JOIN, pandas
    * `fillna("")` semantics — SURVEY.md §7.4.1), cast to string, trim,
    * lowercase. Applied to BOTH sides before any equi-join that must
    * reproduce the reference's matching.
    *
    * The lowercase is the native [[graft.functions.LowerUtf8]] kernel,
    * value-identical to Spark's `lower`: Spark 4.1.2's `lower` builds
    * `CollationAwareUTF8String`'s title-case lookup table on its first
    * call in a JVM (1.6–1.9 s on a 4-core host, ASCII keys or not), and
    * this is the first lowercase of the `etl` job.
    */
  def normalizeKey(c: Column): Column =
    TextFunctions.lowerUtf8(trim(coalesce(c.cast("string"), lit(""))))

  def normalizeKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, normalizeKey(col(k))))

  /** J1: full-outer equi-join with a pandas-style `_merge` indicator
    * (merge_to_dw.py:71-82). The indicator is rebuilt from per-side
    * sentinel flags added BEFORE the join — never by probing row columns
    * for null (rows legitimately contain nulls in non-key fields,
    * SURVEY.md §7.4.8).
    *
    * Scale note: on a composite low-cardinality text key this is a shuffle
    * sort-merge join with skew risk; AQE's skew-join splitting handles the
    * hot keys ("various artists"-type values) without manual salting.
    */
  def fullOuterWithIndicator(left: DataFrame, right: DataFrame,
                             keys: Seq[String]): DataFrame = {
    val l = left.withColumn("_left_flag", lit(true))
    val r = right.withColumn("_right_flag", lit(true))
    l.join(r, keys, "full_outer")
      .withColumn("_merge",
        when(col("_left_flag") && col("_right_flag"), "both")
          .when(col("_left_flag"), "left_only")
          .otherwise("right_only"))
      .drop("_left_flag", "_right_flag")
  }

  /** A1: deterministic mode (most frequent value; ties broken toward the
    * SMALLEST value — pandas `Series.mode()` returns modes sorted
    * ascending, and `_mode_or_first` takes the head,
    * limpiezaSpotify.py:59-61; SURVEY.md §7.4.2). Spark's built-in
    * `mode()` is tie-nondeterministic, so this is the two-level aggregate
    * rewrite: count per (group, value), then `min_by` on
    * (-count, value) — one extra partial-aggregated shuffle, no custom
    * UDAF needed. The struct-ordered `min_by` buffer has no hash or
    * codegen'd aggregate form, so the second level plans as a
    * non-codegen `SortAggregate` (SCALE.md, cleaning pipeline).
    * Negating the COUNT (always a long) rather than the value keeps the
    * tie-break type-agnostic: string, date, or numeric mode columns all
    * order natively.
    *
    * @return DataFrame[groupCol, modeCol] with one row per group.
    */
  def deterministicMode(df: DataFrame, groupCol: String, valueCol: String,
                        out: String): DataFrame =
    df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("_cnt"))
      .groupBy(col(groupCol))
      .agg(min_by(col(valueCol),
        struct((-col("_cnt")).as("_negcnt"), col(valueCol))).as(out))

  /** A1 fused: deterministic mode of `modeCol` AND order-stable first of
    * `firstCol` in ONE shuffle (vs deterministicMode + firstByOrder +
    * join = two shuffles and a join). The first-level aggregate
    * (group, modeValue) carries `min(struct(orderCol, firstCol))`
    * alongside the count; the second level reduces both: `max_by` for the
    * mode, `min` of the carried struct for the first — the minimal struct
    * across subgroups is the minimal struct of the whole group.
    *
    * @return DataFrame[groupCol, modeOut, firstOut]
    */
  def modeOrFirst(df: DataFrame, groupCol: String, modeCol: String,
                  orderCol: String, firstCol: String,
                  modeOut: String, firstOut: String): DataFrame =
    modeOrFirstMulti(df, groupCol, modeCol, orderCol, Seq(firstCol), modeOut)
      .withColumnRenamed(firstCol, firstOut)

  /** [[modeOrFirst]] generalized to any number of order-stable carry
    * columns, still ONE shuffle: level one carries ONE
    * `min(struct(orderCol, c1..cn))` packing every carry column beside
    * the per-(group, modeValue) count; level two reduces it with `min`
    * and unwraps the fields. Carry columns keep their names.
    *
    * One packed struct instead of a struct-min buffer per carry column:
    * with n carries the aggregate maintains 1 buffer and allocates 1
    * struct per row, not n — the clean pipeline carries 18 columns, and
    * the per-column form spent most of its time in those 18 buffers.
    * Semantics also improve: when `orderCol` ties within a group, the
    * whole carry row is taken from ONE winning row (lexicographic min
    * over the packed struct — deterministic), where per-column mins could
    * stitch fields from different tied rows.
    */
  def modeOrFirstMulti(df: DataFrame, groupCol: String, modeCol: String,
                       orderCol: String, carryCols: Seq[String],
                       modeOut: String): DataFrame = {
    val packed = struct((orderCol +: carryCols).map(col): _*)
    val level1 = df.groupBy(col(groupCol), col(modeCol))
      .agg(count(lit(1)).as("_cnt"), min(packed).as("_first"))
    val level2 = level1.groupBy(col(groupCol)).agg(
      min_by(col(modeCol),
        struct((-col("_cnt")).as("_negcnt"), col(modeCol))).as(modeOut),
      min(col("_first")).as("_first"))
    carryCols.foldLeft(level2)((d, c) =>
      d.withColumn(c, col("_first").getField(c))).drop("_first")
  }

  /** A1 companion: "first" per group under an EXPLICIT order column.
    * pandas `iloc[0]` is input-order-stable; Spark `first()` is not —
    * SURVEY.md §7.4.3 — so callers must name the ordering column.
    */
  def firstByOrder(df: DataFrame, groupCol: String, orderCol: String,
                   valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.map(v => min_by(col(v), col(orderCol)).as(v))
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** A3: frequency count (pandas `value_counts`) with a deterministic
    * total order: count desc, then key asc.
    */
  def freqCount(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col(c))

  /** A5: top-k of counts with deterministic tie-break. */
  def topKByCount(df: DataFrame, k: Int, cols: String*): DataFrame =
    df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt") +: cols.map(col): _*)
      .limit(k)

  /** A8: distinct cardinality per column — one aggregate pass, no
    * per-column jobs. Exact here; swap `approx_count_distinct` at 100 TB
    * when a ±2% answer is acceptable.
    */
  def nunique(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(
      countDistinct(col(cols.head)).as(s"nu_${cols.head}"),
      cols.tail.map(c => countDistinct(col(c)).as(s"nu_$c")): _*)

  /** A9: null count per column in a single pass. */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    def cnt(c: String) = sum(col(c).isNull.cast("long")).as(s"nulls_$c")
    df.agg(cnt(cols.head), cols.tail.map(cnt): _*)
  }

  /** A10: exact summary statistics (count/mean/stddev/min/25/50/75%/max —
    * the full pandas `describe()` row set) for numeric columns, one
    * aggregate pass. Quartiles are EXACT (`percentile`, linear
    * interpolation at p·(n−1) — the same formula DuckDB's `quantile_cont`
    * runs, so the oracle reproduces them); at 100 TB swap in
    * `approx_percentile` with a pinned accuracy the same way [[nunique]]
    * would swap to `approx_count_distinct`.
    */
  def stats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      // mean is computed as round(sum,2)/count: for cent-discrete inputs
      // the rounded sum is the exact value in both engines, so the single
      // division is bit-identical — avg() + final rounding hits half-way
      // boundaries systematically on discrete data.
      Seq(count(col(c)).as(s"cnt_$c"),
        (round(sum(col(c)), 2) / count(col(c))).as(s"mean_$c"),
        round(stddev(col(c)), 4).as(s"std_$c"),
        min(col(c)).as(s"min_$c"),
        round(percentile(col(c), lit(0.25)), 4).as(s"p25_$c"),
        round(percentile(col(c), lit(0.5)), 4).as(s"p50_$c"),
        round(percentile(col(c), lit(0.75)), 4).as(s"p75_$c"),
        max(col(c)).as(s"max_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Manual skew mitigation: salted inner equi-join. Each large-side row
    * gets a salt derived from a row-local hash (NOT from the join key —
    * the point is to spread one hot key across `salts` reducers); the
    * small side replicates once per salt value, and the join key becomes
    * (keys, salt). The result set is identical to the unsalted join.
    *
    * AQE's skew-join splitting usually makes this unnecessary (SCALE.md);
    * it stays in the toolbox for skewed AGGREGATIONS (salt → partial agg →
    * final agg) and for joins whose shape AQE can't split.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
                 salts: Int): DataFrame = {
    val l = large.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts.toLong))
        .cast("int"))
    val s = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(s, keys :+ "_salt").drop("_salt")
  }

  /** Stats-DRIVEN salting: measure the large side's key skew first (the
    * j6_skew_report aggregate reduced to one row: max key count vs mean
    * key count), then either join plain — skew below `threshold` means
    * salting would only add replication cost — or salt with a count
    * sized to the measured imbalance (⌈skew⌉ capped at `maxSalts`). The
    * stats pass is one map-side-combinable aggregate collapsing to a
    * SINGLE driver row (tiny-bounds posture); the decision it feeds is
    * exactly the one an engineer makes from the skew report by hand.
    */
  def autoSaltedJoin(large: DataFrame, small: DataFrame,
                     keys: Seq[String], threshold: Double = 4.0,
                     maxSalts: Int = 64): DataFrame = {
    val perKey = large.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_n"))
    val row = perKey
      .agg(max(col("_n")).as("_mx"), avg(col("_n")).as("_mean"))
      .collect().head
    val skew =
      if (row.isNullAt(0) || row.getDouble(1) == 0.0) 1.0
      else row.getLong(0) / row.getDouble(1)
    if (skew < threshold) large.join(small, keys)
    else saltedJoin(large, small, keys,
      math.min(maxSalts, math.ceil(skew).toInt))
  }

  /** D7-style argmax: the single row maximizing `by`, ties broken by
    * ascending `tieBreak`. NOT a global window — `row_number` over an
    * unpartitioned window funnels every row through one task, the classic
    * scale-killer. Instead: a parallel max aggregate (one scalar,
    * broadcast back), a parallel filter to the maximal rows, then
    * TakeOrdered over that tiny set for the tie-break.
    */
  def argmaxRow(df: DataFrame, by: Column, tieBreak: Column): DataFrame = {
    val mx = df.agg(max(by).as("_mx"))
    df.join(broadcast(mx), by === col("_mx"))
      .drop("_mx")
      .orderBy(tieBreak)
      .limit(1)
  }
}
