package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Set-based star-schema construction (SURVEY.md §2.1 S11 / §2.3 J2).
  *
  * The reference builds its warehouse row-at-a-time: for every merged row
  * it INSERTs into up to six dimensions, catches the duplicate-key error,
  * SELECTs the existing surrogate id back, then inserts the fact row
  * (merge_to_dw.py:153-170, 198-300) — an N+1 round-trip pattern that is
  * the dominant cost of the whole pipeline (SURVEY.md §4). There is no
  * distributed analog of "insert-or-select-returning-id"; the correct
  * re-architecture is set-based:
  *
  *   1. each dimension = `select(naturalKey).where(notNull).dropDuplicates`
  *      + a DETERMINISTIC surrogate key (`xxhash64` of the natural key —
  *      re-derivable anywhere, no driver coordination, no sequence
  *      bottleneck at 100 TB);
  *   2. facts DERIVE each FK with the same function ([[surrogateKey]])
  *      from their own natural-key columns — no lookup, no join, no
  *      broadcast. So the warehouse's dimensions and facts are
  *      independent plans over one relation, and can be written
  *      concurrently. [[resolveFk]] remains for facts whose dimension was
  *      built from some other relation.
  *
  * Surrogate ids differ from the reference's MySQL AUTO_INCREMENT values
  * but ids are opaque join tokens; every downstream query result is
  * unchanged (documented deviation, SURVEY.md §7.3).
  */
object StarSchema {

  /** S11: build one dimension from natural-key columns. Rows where every
    * natural-key column is null are dropped (the reference gates dim
    * inserts on key presence, merge_to_dw.py:155, 202-251).
    */
  def buildDim(src: DataFrame, idCol: String, naturalKey: Seq[String]): DataFrame =
    src.select(naturalKey.map(col): _*)
      .where(anyPresent(naturalKey))
      .dropDuplicates(naturalKey)
      // surrogateKey's non-null branch: every row left has a key, and the
      // id column stays non-nullable (REQUIRED in the written parquet).
      .withColumn(idCol, keyHash(naturalKey))

  /** The one definition of a surrogate id: `xxhash64` of the natural key
    * when any key component is non-null, else null (an all-null key has
    * no dimension row, so it has no id).
    *
    * A fact that derives its FK with this function gets exactly the id a
    * [[resolveFk]] join against `buildDim(src, …)` would find, PROVIDED
    * the dimension was built from the same relation as the facts, or from
    * a superset of it: then every non-null fact key has its dim row. A
    * fact key absent from the dimension still gets a (dangling) non-null
    * id here, where the join gives null — for a dimension from elsewhere,
    * use [[resolveFk]].
    */
  def surrogateKey(naturalKey: Seq[String]): Column =
    when(anyPresent(naturalKey), keyHash(naturalKey))

  private def keyHash(naturalKey: Seq[String]): Column =
    xxhash64(naturalKey.map(col): _*)

  private def anyPresent(naturalKey: Seq[String]): Column =
    naturalKey.map(col(_).isNotNull).reduce(_ || _)

  /** J2: resolve one fact FK — left broadcast-join the fact against a dim
    * on the natural key, keeping only the surrogate id. Dimensions are
    * small by construction; `broadcast()` pins the map-side strategy so a
    * stats misestimate can never demote this to a sort-merge shuffle.
    *
    * The join is NULL-SAFE (`<=>`): dimension keys may legitimately
    * contain nulls in optional components (the reference's Dim_Event has
    * optional published/updated columns, merge_to_dw.py:242-251), and a
    * null-keyed dim row must still resolve its own facts.
    */
  def resolveFk(fact: DataFrame, dim: DataFrame, naturalKey: Seq[String],
                idCol: String): DataFrame = {
    val d = naturalKey.foldLeft(
      dim.select((naturalKey :+ idCol).map(col): _*))(
      (df, k) => df.withColumnRenamed(k, s"_dim_$k"))
    val cond = naturalKey.map(k => col(k) <=> col(s"_dim_$k")).reduce(_ && _)
    naturalKey.foldLeft(fact.join(broadcast(d), cond, "left"))(
      (df, k) => df.drop(s"_dim_$k"))
  }

  /** Incremental dimension upsert — the reference's INSERT-or-SELECT
    * surrogate loop (merge_to_dw.py:153-170) made incremental loads
    * STATEFUL: new ids depended on what the database had already assigned.
    * Deterministic hash surrogates make upsert stateless: the id of a
    * natural key is the same on every run, so merging new source rows is
    * just build + union + dropDuplicates — no id re-negotiation, no read
    * of existing assignments, and safely re-runnable (idempotent) at any
    * scale. Facts loaded in past runs keep resolving against the merged
    * dim unchanged.
    */
  def upsertDim(existing: DataFrame, newSrc: DataFrame, idCol: String,
                naturalKey: Seq[String]): DataFrame =
    existing.unionByName(buildDim(newSrc, idCol, naturalKey))
      .dropDuplicates(naturalKey)

  /** Gate fact rows on FK completeness (merge_to_dw.py:254, 288): a fact
    * is inserted only when all its required surrogate keys resolved.
    */
  def gateComplete(fact: DataFrame, requiredIds: Seq[String]): DataFrame =
    fact.where(requiredIds.map(col(_).isNotNull).reduce(_ && _))

  /** Share-of-total helper for the dashboard's donut/pct cards (D1, D3):
    * appends `share = value / total`. The total is a parallel scalar
    * aggregate broadcast back — NOT a `sum over ()` single-partition
    * window, which would funnel the whole (aggregated, but at 100 TB
    * still possibly huge) result through one task.
    */
  def withShare(agg: DataFrame, valueCol: String, out: String): DataFrame =
    agg.crossJoin(broadcast(agg.agg(sum(col(valueCol)).as("_tot"))))
      .withColumn(out, round(col(valueCol) / col("_tot"), 4))
      .drop("_tot")
}
