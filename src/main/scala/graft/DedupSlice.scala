package graft

import java.nio.file.{Files, Paths}

/** Partitioned-oracle dump for `t_dedup_savings` at probe scales
  * (round 14, verdict order #2).
  *
  * At sf10 the registered DuckDB oracle is infeasible ON THE ORACLE
  * side: its banded self-join + per-candidate `list_intersect` replay
  * needs > 76 GB of spill (two round-13 attempts died of disk) while
  * the Spark side computes the query inside the same 16 GiB heap as
  * every bench pin. Rather than leave the second-decade dedup
  * datapoint as "Spark computed it, the oracle couldn't", the check is
  * split into two bit-exact halves that together cover the whole
  * query:
  *
  *  1. PAIR SLICE — this main dumps the FULL near-dup pair table
  *     ([[graft.operators.Dedup.nearDupPairs]], the exact kernel
  *     `t_dedup_savings`' keeper set is built from) and emits a sliced
  *     oracle: DuckDB replays only the pairs touching a deterministic
  *     doc bucket (`doc_id % K = bucket`). Slicing the CANDIDATE
  *     generator's a-side cuts the quadratic replay by ~K while the
  *     b-side stays the whole corpus, so the slice still exercises the
  *     complete minhash → bands → candidate → exact-jaccard chain at
  *     full corpus scale. The CTE text is generated from the SAME
  *     literals as the registered oracle
  *     ([[graft.queries.TextQueries.minhashBandCtes]] and
  *     [[graft.queries.TextQueries.neardupCandJCtes]]), so the two
  *     can never drift.
  *  2. SAVINGS REPLAY — scripts/check.py (--neardup-slice) recomputes
  *     components from the dumped pairs with an independent union-find
  *     (min-id keeper, the contract of
  *     [[graft.operators.Dedup.connectedComponents]] and the
  *     [[graft.operators.Graph.connectedComponents]] loop behind it),
  *     takes token counts from DuckDB, rebuilds the savings
  *     row, and compares the registered `t_dedup_savings` output
  *     bit-exactly. Everything downstream of the pairs is verified on
  *     the FULL table; the pair table itself is verified against the
  *     real oracle on the 1/K slice.
  *
  * Usage: runMain graft.DedupSlice <sfDir> <outDir> [K=64] [bucket=0]
  * Writes <outDir>/neardup_pairs/ (id_a, id_b, jac — full table),
  * <outDir>/t_dedup_savings/ (the registered query's output), and
  * <outDir>/slice_oracle.json ({pair_slice_sql, tok_sql, k, bucket}).
  */
object DedupSlice {

  /** DuckDB SQL for the bucket-sliced near-dup pairs: every pair with
    * at least one endpoint in the bucket, canonicalized id_a < id_b —
    * exactly the registered oracle's `j ... WHERE jac >= 0.5` rows
    * restricted to bucket-touching pairs. The band CTEs AND the
    * cand/j CTEs are both generated from the registered oracle's own
    * literals ([[graft.queries.TextQueries.minhashBandCtes]] /
    * [[graft.queries.TextQueries.neardupCandJCtes]]), so the slice
    * can never drift from the registered oracle (round-15 advice
    * fix: cand/j used to be re-authored here).
    */
  def pairSliceSql(k: Int, bucket: Long): String =
    s"""WITH ${queries.TextQueries.minhashBandCtes("documents")},
       |${queries.TextQueries.neardupCandJCtes(Some((k, bucket)))}
       |SELECT id_a, id_b, jac FROM j WHERE jac >= 0.5""".stripMargin

  /** DuckDB SQL for per-doc whitespace token counts — the `tok` CTE of
    * the registered oracle, verbatim construction.
    */
  def tokSql: String =
    s"""SELECT doc_id,
       |  CAST(len(list_filter(${queries.TextQueries.wsSql},
       |    t -> length(t)>0)) AS BIGINT) AS n_tok
       |FROM documents""".stripMargin

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val k = args.lift(2).map(_.toInt).getOrElse(64)
    val bucket = args.lift(3).map(_.toLong).getOrElse(0L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus, "graft-dedup-slice")
    new java.io.File(outDir).mkdirs()
    val docs = sources.Tables.load(spark, sfDir, "documents")
    operators.Dedup
      .nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .write.mode("overwrite").parquet(s"$outDir/neardup_pairs")
    SparkEntry.queries("t_dedup_savings")(spark, sfDir)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/t_dedup_savings")
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"$outDir/slice_oracle.json"),
      s"""{"pair_slice_sql": ${q(pairSliceSql(k, bucket))}, """ +
        s""""tok_sql": ${q(tokSql)}, "k": $k, "bucket": $bucket}""")
    spark.stop()
  }
}
