package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Lower
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{GenreMap, Pipelines}
import graft.functions.{LowerUtf8, TextFunctions}
import graft.sources.Tables

/** Machine-checked plan audit: the scale-design claims in SCALE.md as
  * assertions on the physical plans of registered queries, so a regression
  * (a dropped broadcast hint, a filter that stops reaching the scan, a
  * rewrite that reintroduces a single-partition window) fails the build
  * instead of surviving as stale prose.
  *
  * AQE is disabled inside each assertion so the plan text is static; the
  * queries themselves run with AQE on everywhere else.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    staticPlan(SparkEntry.queries(name)(spark, dir))

  private def staticPlan(df: => DataFrame): String = {
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      df.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  /** Test-scale plans may carry ONE reader-spread exchange
    * (Tables.spread — `hashpartitioning(xxhash64(key))`, round 15: a
    * planning-time no-op at production split counts, an input-skew fix
    * at single-file test scale). Assertions about a QUERY's own shuffle
    * structure filter the spread's lines out first; the queries audited
    * this way use xxhash64 nowhere else.
    */
  private def sansSpread(p: String): String =
    p.linesIterator.filterNot(_.contains("xxhash64")).mkString("\n")

  test("dim joins are broadcast hash joins (d9, d1, d10, star build)") {
    for (q <- Seq("d9_top_artists", "d1_avg_popularity", "d10_genre_wins",
      "star_fact_counts")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast:\n$p")
    }
  }

  test("warehouse facts derive their keys: no join in either fact plan") {
    def res(name: String) = getClass.getResource(s"/$name").getPath
    val merged = Pipelines.mergeSpotifyGrammys(
      Pipelines.cleanTracks(Tables.readSpotifyCsv(spark, res("spotify_tracks.csv")),
        GenreMap.df(spark), "row_idx"),
      Tables.readGrammyCsv(spark, res("the_grammy_awards.csv")))
    val staged = Tables.stage(merged,
      java.nio.file.Files.createTempDirectory("audit-staged-merge").toString)
    for (fact <- Seq("Fact_Spotify_Tracks", "Fact_Grammy_Awards")) {
      val p = staticPlan(Pipelines.buildWarehouse(staged)(fact))
      assert(!p.matches("(?s).*(BroadcastHashJoin|SortMergeJoin|" +
        "ShuffledHashJoin|BroadcastNestedLoopJoin).*"), s"$fact joins:\n$p")
    }
  }

  test("the ETL merge and tokenization lowercase through the native kernel") {
    // Spark's Lower builds CollationAwareUTF8String's title-case table on
    // its first call in a JVM (1.6-1.9 s, graft.functions.CaseKernels); a
    // lower() put back on the ETL path brings that cost back.
    def res(name: String) = getClass.getResource(s"/$name").getPath
    val merged = Pipelines.mergeSpotifyGrammys(
      Pipelines.cleanTracks(Tables.readSpotifyCsv(spark, res("spotify_tracks.csv")),
        GenreMap.df(spark), "row_idx"),
      Tables.readGrammyCsv(spark, res("the_grammy_awards.csv")))
    val tokens = spark.range(1).select(
      TextFunctions.tokens(col("id").cast("string")))
    for ((name, df) <- Seq("mergeSpotifyGrammys" -> merged, "tokens" -> tokens)) {
      val exprs = df.queryExecution.analyzed.collect { case n => n.expressions }
        .flatten.flatMap(_.collect { case e => e })
      assert(!exprs.exists(_.isInstanceOf[Lower]), s"$name calls Spark lower")
      assert(exprs.exists(_.isInstanceOf[LowerUtf8]), s"$name lost the kernel")
    }
  }

  test("share-of-total and argmax plans contain no window operator") {
    // d1/d3 use the broadcast-scalar total, d7 the parallel max + filter;
    // a Window node reappearing means someone reintroduced the
    // single-partition `over ()` funnel.
    for (q <- Seq("d1_avg_popularity", "d3_top_albums", "d7_extremes")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q regressed to a window plan:\n$p")
    }
  }

  test("filters reach the parquet scan (p5)") {
    val p = plan("p5_filter")
    // plan toString truncates long metadata fields, so assert on the
    // filter that renders fully plus the untruncated Filter node
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
    assert(p.contains("> 100000"), p)
  }

  test("projection prunes unreferenced columns at the scan (p1)") {
    val p = plan("p1_rename")
    // two referenced columns survive; the widest orders column must not
    assert(p.contains("o_orderkey") && p.contains("o_orderpriority"), p)
    assert(!p.contains("o_totalprice"), s"scan reads pruned column:\n$p")
  }

  test("a1 mode-or-first runs on a single hash exchange") {
    val p = plan("a1_mode_first")
    val hashExchanges =
      "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"a1 should shuffle exactly once (got $hashExchanges):\n$p")
  }

  test("stratified sample's window input is hash-threshold pre-filtered") {
    // The scale contract of Sampling.stratifiedTopKByHash: no task ever
    // sorts a whole stratum — a Filter on the numeric md5 prefix (the
    // `conv(substring(md5(...)))` bound) and the broadcast join that
    // delivers per-stratum counts must both sit under the Window.
    val p = plan("t_stratified_sample")
    assert(p.contains("Window"), s"sample lost its exact top-k window:\n$p")
    assert(p.contains("conv(substring(md5("),
      s"window input is no longer pre-filtered by the hash bound:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-stratum counts stopped broadcasting:\n$p")
  }

  test("repetition and PII queries are shuffle-free projections") {
    // SCALE.md's zero-shuffle claim for the per-row curation signals: the
    // only exchange allowed is the output orderBy's range partitioning —
    // no hash exchange, no window, no join anywhere in the plan.
    for (q <- Seq("t_repetition", "t_pii_scrub")) {
      val p = sansSpread(plan(q))
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q grew a hash shuffle:\n$p")
      assert(!p.contains("Window") && !p.contains("Join"),
        s"$q should be a pure projection:\n$p")
    }
  }

  test("decontamination joins on the shingle, never all-pairs") {
    val p = plan("t_decontam")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"decontam degenerated to an all-pairs join:\n$p")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(p).nonEmpty, s"decontam lost its equi-join:\n$p")
  }

  test("time joins stay equi-joins: no nested loop, no cartesian") {
    // RangeJoin's bucketization and AsofJoin's union–carry-forward both
    // exist to keep inequality time predicates OUT of the join operator;
    // a BroadcastNestedLoopJoin reappearing means the rewrite regressed
    // to all-pairs-per-key.
    for (q <- Seq("ev_asof_view", "ev_range_campaign")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to an all-pairs join:\n$p")
    }
    // The as-of carry-forward is exactly one key-partitioned window.
    assert(plan("ev_asof_view").contains("Window"),
      "asof lost its carry-forward window")
  }

  test("composed training pipeline keeps its stage plans under composition") {
    // Composing six stages into one plan must not lose the decontam
    // broadcast prune or degenerate any stage to an all-pairs join.
    val p = plan("t_training_pipeline")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pipeline degenerated to an all-pairs join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"pipeline lost its broadcast joins:\n$p")
  }

  test("partition-pruned read selects one directory at planning time") {
    // s15's scale contract: the year filter must resolve against the
    // Hive-style directory layout (PartitionFilters on the scan), not as
    // a data filter that opens every file. One selected partition out of
    // the seven order years proves pruning happened before I/O.
    val p = plan("s15_partition_prune")
    assert(p.contains("PartitionFilters: [isnotnull(yr"),
      s"partition filter did not reach the scan:\n$p")
    assert(p.contains("(yr") && p.contains("1995"),
      s"year predicate missing from partition filters:\n$p")
    // A data-filter fallback would also render a PushedFilters entry on yr.
    assert(!p.contains("PushedFilters: [IsNotNull(yr)"),
      s"yr degraded to a data filter:\n$p")
  }

  test("rollup/cube/grouping-sets run as one Expand + aggregate pass") {
    // The multi-level aggregates must not re-scan the facts per level:
    // exactly one Expand node, broadcast dim joins below it, and one
    // hash-aggregate pair above it.
    for (q <- Seq("olap_rollup", "olap_cube", "olap_grouping_sets")) {
      val p = plan(q)
      assert("Expand".r.findAllIn(p).size >= 1 &&
        p.indexOf("Expand") == p.lastIndexOf("Expand"),
        s"$q should contain exactly one Expand:\n$p")
      assert(!p.contains("Union"), s"$q re-scans per grouping level:\n$p")
    }
  }

  test("top-n-per-group windows run over pre-aggregated input") {
    // w_rank_region's window must sit ABOVE the aggregation (group-sized
    // input, with the rank-filter pushed down as WindowGroupLimit), never
    // directly on the fact join.
    val p = plan("w_rank_region")
    assert(p.contains("Window"), s"rank query lost its window:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter no longer prunes below the window:\n$p")
    assert(p.indexOf("Window") < p.indexOf("HashAggregate"),
      s"window must consume the aggregate, not raw facts:\n$p")
  }

  test("scd2 apply runs ONE join; generator emits the version classes") {
    // The keep/close/open row classes must come from one explode over
    // the single full-outer join — three filter branches would
    // re-execute the join per branch.
    val p = plan("scd2_versions")
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).size
    assert(joins == 1, s"scd2 apply must join exactly once (got $joins):\n$p")
    assert(p.contains("Generate"), s"scd2 lost its generator fan-out:\n$p")
  }

  test("attribution joins on the user key, never all-pairs") {
    // The time band must ride as a post-join condition on a user-keyed
    // equi-join — a nested-loop reappearing means the band became the
    // join condition itself.
    val p = plan("ev_attribution")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"attribution degenerated to an all-pairs join:\n$p")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(p).nonEmpty, s"attribution lost its equi-join:\n$p")
  }

  test("fuzzy linkage equi-joins on the block key") {
    val p = plan("j4_fuzzy_block")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy match degenerated to an all-pairs join:\n$p")
  }

  test("bm25 is two scans: one stats row broadcast over a per-row score") {
    val p = plan("t_bm25")
    assert("Scan parquet".r.findAllIn(p).length / 2 <= 2,
      s"bm25 grew beyond its two-scan design:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"bm25 stats row is not broadcast:\n$p")
    assert(!p.contains("Generate"),
      s"bm25 gained a per-term explode it was designed to avoid:\n$p")
  }

  test("chunking shuffles only for the compare sort") {
    // The generator itself is map-side: the ONLY exchange is the final
    // orderBy that the oracle compare needs (rangepartitioning). A hash
    // exchange appearing means the fan-out started shuffling data.
    val p = sansSpread(plan("t_chunk_overlap"))
    assert(!p.contains("hashpartitioning"),
      s"chunk generator gained a hash shuffle:\n$p")
  }

  test("bloom-pruned dedup anti-joins only the maybe branch") {
    // The definite-new branch must reach the union without any join;
    // exactly one anti-join (the maybe branch probe) may appear.
    val p = plan("t_dedup_bloom")
    assert("LeftAnti".r.findAllIn(p).length == 1,
      s"bloom prune lost its single-anti-join shape:\n$p")
  }

  test("gap fill scans the event log exactly once") {
    // Span, key dimension and join probe all read the STAGED sparse
    // aggregate: the final plan contains no parquet scan at all — the one
    // events scan lives inside the staging job. Three `Scan parquet`
    // nodes reappearing means per-branch pruning re-specialized the
    // aggregate and the log is being re-read per consumer.
    val p = plan("ev_gapfill")
    assert(!p.contains("Scan parquet"),
      s"gap fill re-scans the event log per consumer:\n$p")
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // The fact⋈fact posture at 100 TB: when neither side broadcasts, a
    // selective filter on the build side should inject a bloom filter
    // that prunes the probe-side scan BEFORE the shuffle
    // (spark.sql.optimizer.runtime.bloomFilter, on in GraftSession). The
    // thresholds here only shrink the size gates so the sf0.001 fixture
    // qualifies — the rewrite under test is the production one.
    import org.apache.spark.sql.functions.col
    val saved = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1"
    ).map { case (k, v) =>
      val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old
    }
    try {
      val li = graft.sources.Tables.load(spark, dir, "lineitem")
      val ord = graft.sources.Tables.load(spark, dir, "orders")
        .where(col("o_orderstatus") === "P")
      val p = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter injected on the probe side:\n$p")
    } finally saved.foreach { case (k, old) =>
      old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("MERGE INTO and table diff are single full-outer joins") {
    for (q <- Seq("lake_merge", "a19_table_diff")) {
      val p = plan(q)
      assert(p.contains("FullOuter"), s"$q lost its full-outer join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
    }
  }

  test("skew report and PageRank never sort globally or go all-pairs") {
    // j6's top-10 must be a TakeOrdered (k rows per partition + tiny
    // merge), never a materialized global sort; g_pagerank's iterations
    // must stay equi-joins.
    val skew = plan("j6_skew_report")
    assert(skew.contains("TakeOrderedAndProject"),
      s"skew report regressed to a global sort:\n$skew")
    val pr = plan("g_pagerank")
    assert(!pr.contains("CartesianProduct") && !pr.contains("Window"),
      s"pagerank plan degraded:\n$pr")
  }

  test("BPE encode shuffles nothing but the presentation sort") {
    // The encode itself is a per-row fold: the only exchange allowed in
    // the plan is the final orderBy's range partitioning.
    val p = sansSpread(plan("t_bpe_encode"))
    assert(!p.contains("hashpartitioning"),
      s"t_bpe_encode gained a hash shuffle:\n$p")
  }

  test("outer attribution keeps the interval-join shape") {
    val p = plan("ev_attribution_outer")
    assert(p.contains("LeftOuter"), s"outer join type lost:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"band condition stopped equi-joining:\n$p")
  }

  test("SCD2 enrichment extracts the equi-key from the interval join") {
    // The version-interval condition must ride as a post-join filter on
    // a key equi-join — a nested-loop/cartesian here would scan
    // |facts|×|versions| at the warehouse.
    val p = plan("scd2_enrich")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"interval join lost its equi-key:\n$p")
  }

  test("pruned diff broadcasts the dirty-bucket set into both row scans") {
    val p = plan("a19_diff_pruned")
    assert(p.contains("BroadcastHashJoin"),
      s"dirty buckets stopped broadcasting — full rows would shuffle:\n$p")
    assert(p.contains("FullOuter"),
      s"row-level classify join lost full-outer semantics:\n$p")
  }

  test("exact median: windows only over aggregates, targets broadcast") {
    val df = SparkEntry.queries("olap_group_median")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    // Both cumulative windows (bucket histogram, in-bucket value ladder)
    // must run over an Aggregate output, never over raw facts.
    windows.foreach { w =>
      val overAggregate = w.child.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty
      assert(w.partitionSpec.nonEmpty && overAggregate,
        s"median window runs over raw facts:\n$w")
    }
    val p = plan("olap_group_median")
    assert(p.contains("BroadcastHashJoin"),
      s"bounds/targets stopped broadcasting:\n$p")
  }

  test("weighted median: windows only over histogram aggregates") {
    // The r3→r4 reconciliation guard for t_weighted_median: its two
    // cumulative windows are global (corpus-wide median ⇒ empty
    // partitionSpec) but must each run over an Aggregate output — the
    // ≤4096-row bucket histogram / in-bucket value ladder — never over
    // the weighted facts themselves; targets/bounds stay broadcast.
    val df = SparkEntry.queries("t_weighted_median")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val overAggregate = w.child.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty
      assert(overAggregate,
        s"weighted-median window runs over raw facts:\n$w")
    }
    // Corpus-wide: groupCols is empty, so the bounds/targets joins have
    // no equi-keys and plan as BroadcastNestedLoopJoin over 1–2-row
    // broadcast sides — fine; what must never appear is a non-broadcast
    // join (the facts shuffled or sorted against the tiny side).
    val p = plan("t_weighted_median")
    assert(p.contains("BroadcastExchange"),
      s"bounds/targets stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"tiny-side join stopped broadcasting:\n$p")
  }

  test("concurrency sweep: only pid-local and totals windows") {
    val df = SparkEntry.queries("ev_concurrency")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val partitioned = w.partitionSpec.nonEmpty
      val overTotals = w.child.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty
      assert(partitioned || overTotals,
        s"unpartitioned window over raw event deltas:\n$w")
    }
  }

  test("winnowing runs the native per-row kernel; no interpreted HOF") {
    // r16 form of the r4 codegen-cliff guard: the sliding min is the
    // native winnow_fp_set expression — a per-row projection with NO
    // corpus window, NO generate and NO gram-hash lambda on the
    // fingerprint path. Both regressions it guards against (the 598 s
    // nested-lambda form and the r16-diagnosed interpreted transform
    // whose tokenization re-ran per gram) reappear as HOF nodes in the
    // plan text.
    val df = SparkEntry.queries("t_winnow_fp")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      "winnow fingerprint path re-grew a window; the native " +
        s"winnow_fp_set projection replaced it in r16:\n$windows")
    val p = plan("t_winnow_fp")
    assert(p.contains("winnow_fp_set"),
      s"native winnow kernel missing from the plan:\n$p")
    assert(!p.contains("array_min(slice"),
      s"nested-lambda winnow form reappeared:\n$p")
    assert(!p.contains("md5(cast(array_join(slice"),
      s"interpreted gram-hash lambda reappeared:\n$p")
  }

  test("RRF fusion never materializes a global sort of the corpus") {
    // Both rankings cut to top-k via TakeOrderedAndProject before the
    // rank windows/full-outer join; a Sort over either base relation
    // means someone re-introduced the rank-the-world plan.
    val p = plan("t_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k cut disappeared:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"query vector stopped broadcasting:\n$p")
  }

  test("dup-span profile shuffles on the gram exactly twice") {
    // One exchange for the per-gram distinct-doc count, one to group
    // the joined grams back per doc — never a pairwise join of docs.
    val p = plan("t_dup_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dup spans went pairwise:\n$p")
  }

  test("headline aggregates keep whole-stage codegen on the hot path") {
    for (q <- Seq("d9_top_artists", "q1_agg")) {
      val p = plan(q)
      // codegen stages render as "*(n) Operator" in executedPlan.toString;
      // the aggregate itself must be inside one
      assert(p.contains("*(1)"), s"$q fell out of codegen:\n$p")
      assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(p).isDefined,
        s"$q aggregate not codegen'd:\n$p")
    }
  }

  test("codegen class cache is sized for a query-server workload") {
    // GraftSession raises spark.sql.codegen.cache.maxEntries to 10000:
    // the 100-entry default recompiles whole-stage classes on every
    // re-run once a process cycles through more plans than the LRU
    // holds — a ~0.2-1.5 s Janino tax per execution that read as 2-4×
    // on sub-second queries in the r9 interleaved bench (SCALE.md
    // "Codegen cache"). Static conf: it only applies at session build,
    // so a refactor that drops it from GraftSession.tuned would
    // silently reintroduce the cliff — this assertion pins it.
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
  }

  test("diverse containment stays candidate-joined, never corpus-pairwise") {
    // The only nested-loop join allowed is the 1-row corpus-count
    // broadcast that parameterizes the fixture; the candidate pass must
    // be the fingerprint equi-join (SortMergeJoin/ShuffledHashJoin or a
    // broadcast at this SF), and no CartesianProduct may appear anywhere.
    val p = plan("t_containment_diverse")
    assert(!p.contains("CartesianProduct"),
      s"diverse containment went cartesian:\n$p")
    assert(p.contains("_wmin"), s"candidate equi-key disappeared:\n$p")
  }

  test("novelty windows per gram and never joins docs pairwise") {
    // First-occurrence attribution is a gram-partitioned window min plus
    // a per-doc aggregate — two hash exchanges, no pairwise doc join.
    val p = plan("t_novelty")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"novelty went pairwise:\n$p")
    assert("Window \\[min\\(doc_id".r.findFirstIn(p).isDefined ||
      p.contains("Window"), s"gram-partitioned window missing:\n$p")
  }

  test("familiarity is gram-windowed, never a pairwise doc join") {
    // Same two-exchange shape as novelty: count window partitioned by
    // gram + per-doc aggregate.
    val p = plan("t_familiarity")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"familiarity went pairwise:\n$p")
    assert(p.contains("Window"), s"gram-partitioned window missing:\n$p")
  }

  test("source cap windows per source — no single-partition window") {
    // partitionBy(source): the window's exchange must be a hash
    // partitioning, never the SinglePartition funnel of an
    // unpartitioned over().
    val p = plan("t_source_cap")
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"source cap window lost its partition key:\n$p")
  }

  test("phrase search joins postings on (doc, pos) keys, never pairwise") {
    // Adjacency self-join is an equi-join on doc_id and pos+1; the only
    // nested-loop allowed is the broadcast of the 1-row top bigram.
    val p = plan("t_phrase_search")
    assert(!p.contains("CartesianProduct"),
      s"phrase search went cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"adjacency equi-join missing:\n$p")
  }

  test("kmv sketch phases are k-bounded: no value-level pairwise join " +
    "outside the calibration intersection") {
    // The sketch path touches only ≤ P·k rows after the per-group
    // k-minima aggregate; the one value-keyed join is the exact-
    // calibration intersection (equi-join on the value). Nothing may be
    // cartesian — the group-pair enumeration is a broadcast nested loop
    // over the P-row distinct-group sets, which is fine, but no
    // CartesianProduct. The k-minima must run as the native KmvMinK
    // TypedImperativeAggregate (ObjectHashAggregate, map-side partials)
    // — NOT as a row_number window, which would shuffle and per-key-sort
    // every distinct hash.
    val p = plan("t_kmv_overlap")
    assert(!p.contains("CartesianProduct"),
      s"kmv went cartesian:\n$p")
    assert(p.contains("kmv_mink"),
      s"native KMV aggregate missing from the plan:\n$p")
    assert(!p.contains("Window"),
      s"kmv regressed to a window sort of all hashes:\n$p")
  }

  test("seasonal-hour baseline broadcasts back onto the cell aggregate") {
    // ≤24-row hour-of-day baseline must join the (day, hod) cells as a
    // broadcast, and the whole plan is two hash aggregates — no window,
    // no sort-merge of event-sized inputs.
    val p = plan("ev_seasonal_hour")
    assert(p.contains("BroadcastHashJoin"),
      s"baseline join lost its broadcast:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
  }

  test("connected components' final plan is checkpoint-bounded") {
    // Like the other Pregel-lite loops: after 6 rounds the plan must
    // read the last localCheckpoint (Scan ExistingRDD), not re-expand
    // the per-round join chain into one nested tree.
    val p = plan("g_concomp")
    assert(p.contains("ExistingRDD"),
      s"g_concomp lineage not checkpoint-bounded:\n$p")
  }

  test("line dedup's keeper window prunes map-side (WindowGroupLimit)") {
    // row_number()=1 over the line partition must plan as a
    // WindowGroupLimit pair (partial before the line shuffle, final
    // after), so only each partition's per-line winner candidates ride
    // the exchange — the property that keeps the dedup shuffle at
    // ~|distinct lines|, not |line occurrences|, on a 100 TB corpus.
    val p = plan("t_line_dedup")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"keeper window lost its group-limit pushdown:\n$p")
  }

  test("ABC classes run on the distributed prefix sum, not a global window") {
    // The only unbounded-frame window must consume the per-partition
    // totals (the broadcast-offset relation), never the per-part rows:
    // exactly one data window remains and it is pid-partitioned by
    // withRunningTotal's local pass.
    val p = plan("olap_abc")
    assert(p.contains("_pid"),
      s"olap_abc lost the two-phase prefix-sum shape:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"total lost its broadcast:\n$p")
  }

  test("linear attribution joins on the user key — never a loop join") {
    // The 24h band rides the equi-join as a post-join predicate; a
    // BroadcastNestedLoopJoin here would be the all-pairs regression.
    val p = plan("ev_attrib_linear")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"attribution degraded to a nested-loop join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"no keyed join found:\n$p")
  }

  test("soft sampling is a per-row projection plus one broadcast scalar") {
    // No data-sized shuffle: the only exchanges are the 1-row max
    // broadcast and the presentation sort.
    val p = plan("t_soft_sample")
    assert(!p.contains("SortMergeJoin"),
      s"soft sampling gained a data-sized join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"score max lost its broadcast:\n$p")
  }

  test("link prediction tops out as TakeOrdered, never a global sort") {
    val p = plan("g_link_predict")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 lost its TakeOrdered plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"wedge join degraded to a cartesian product:\n$p")
  }

  test("markov model broadcasts onto the eval pairs") {
    val p = plan("ev_markov_next")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=|types|-row model lost its broadcast:\n$p")
  }

  test("decay attribution joins on the user key — never a loop join") {
    // Same contract as linear attribution: the strict 24h band is a
    // post-join predicate on the user-keyed equi-join.
    val p = plan("ev_attrib_decay")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"decay attribution degraded to a nested-loop join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"no keyed join found:\n$p")
  }

  test("range search has no window operator at all") {
    // Radius retrieval is a filter fused into the scored scan — the
    // whole point vs top-k; a Window reappearing means someone ranked.
    val p = plan("sim_range_search")
    assert(!p.contains("Window"),
      s"range search regressed to a ranking plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"queries lost their broadcast:\n$p")
  }

  test("ewma's eight lags share one window operator") {
    val p = plan("ev_ewma")
    val windows = "Window ".r.findAllIn(p).size
    assert(windows == 1,
      s"ev_ewma should evaluate all lags in ONE window (got $windows):\n$p")
  }

  test("mfv profile fans out from a single orders scan") {
    val p = plan("dq_mfv_profile")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1,
      s"dq_mfv_profile should scan orders once (got $scans):\n$p")
    assert(p.contains("Generate explode"),
      s"per-column fan-out lost its explode:\n$p")
  }

  test("frequent triples never build an unpruned basket product") {
    val p = plan("fi_triples")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"triple mining degraded to a product join:\n$p")
  }

  test("order reconcile: pruned scans, partial aggregation, equi-outer join") {
    val p = plan("dq_order_reconcile")
    // full-outer on the order key must stay an equi join
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"reconcile degraded to a product join:\n$p")
    assert(p.contains("FullOuter"), s"reconcile lost full-outer:\n$p")
    // the lineitem scan must not read the columns the audit never uses
    assert(!p.contains("l_quantity") && !p.contains("l_shipdate"),
      s"reconcile scan reads pruned columns:\n$p")
  }

  test("temporal-order audit joins equi and prunes both scans") {
    val p = plan("dq_temporal_order")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"temporal audit degraded to a product join:\n$p")
    assert(!p.contains("l_extendedprice"),
      s"temporal audit reads pruned lineitem columns:\n$p")
  }

  test("window funnel anchors join equi with time bands as filters") {
    val p = plan("ev_window_funnel")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"window funnel degraded to a loop join:\n$p")
    assert(!p.contains("Window"),
      s"window funnel should need no window operator:\n$p")
  }

  test("coverage curve takes its head via TakeOrdered, not a global sort") {
    val p = plan("t_ngram_coverage_curve")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab head lost its TakeOrdered:\n$p")
  }

  test("modularity never builds a node product beyond the staged edges") {
    val p = plan("g_modularity")
    assert(!p.contains("CartesianProduct"),
      s"modularity grew a cartesian:\n$p")
  }

  test("daily fingerprints aggregate in one hash exchange, no join") {
    // One groupBy(day) over a three-column scan: any join or second
    // exchange means the digest stopped being a single linear pass.
    val p = plan("dq_fingerprint_daily")
    assert(!p.contains("Join"), s"fingerprint grew a join:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"fingerprint should shuffle exactly once (got $hashExchanges):\n$p")
    assert(!p.contains("o_totalprice"),
      s"fingerprint scan reads pruned columns:\n$p")
  }

  test("shard stability joins equi on doc_id; candidate fan-out ≤10×") {
    // The rendezvous winner is a row_number over an exploded ≤10-row
    // candidate list per doc — the plan must stay equi-join + window,
    // never a product join, and only doc_id leaves the scan.
    val p = plan("t_shard_stability")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"shard stability degraded to a product join:\n$p")
    assert(p.contains("Window"), s"HRW winner lost its window:\n$p")
    assert(!p.contains("content") && !p.contains("lang"),
      s"shard stability reads pruned document columns:\n$p")
  }

  test("knob sweeps price three settings from one window pass, no join") {
    // Both sweeps' scale contract: ONE user-keyed window (lag / frame
    // max) is the only data-sized shuffle; the three knob settings are
    // conditional sums over the same column — a Join or a second
    // window appearing means someone rebuilt the per-setting runs.
    for (q <- Seq("ev_session_gap_sweep", "ev_attrib_window_sweep")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      assert(p.contains("Window"), s"$q lost its single window pass:\n$p")
      val windows = "Window".r.findAllIn(p).size
      assert(windows <= 2, // node + its codegen id line
        s"$q should run exactly one window operator:\n$p")
      assert(!p.contains("props") && !p.contains("value#"),
        s"$q reads pruned event columns:\n$p")
    }
  }

  test("freq spectrum shuffles tokens once; spectrum rows stay tiny") {
    val p = sansSpread(plan("t_freq_spectrum"))
    assert(!p.contains("Join"), s"freq spectrum grew a join:\n$p")
    // two hash exchanges: token counts (data-sized) + dyadic buckets
    // (≤~20 rows); a third means an extra repartition crept in
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2,
      s"freq spectrum should shuffle twice (got $hashExchanges):\n$p")
    assert(!p.contains("lang") && !p.contains("source"),
      s"freq spectrum reads pruned document columns:\n$p")
  }

  test("band sweep never runs a candidate join; dwell stays one window") {
    // The sweep's contract: price three band configs WITHOUT the
    // banded self-join — only explodes + counts over the checkpointed
    // signature table.
    val bs = plan("t_lsh_band_sweep")
    assert(!bs.contains("Join"), s"band sweep grew a candidate join:\n$bs")
    assert(!bs.contains("lang") && !bs.contains("source"),
      s"band sweep reads pruned document columns:\n$bs")
    val dw = plan("ev_dwell_time")
    assert(!dw.contains("CartesianProduct") &&
      !dw.contains("BroadcastNestedLoopJoin"),
      s"dwell time degraded to a product join:\n$dw")
    assert(dw.contains("Window"), s"dwell lost its lead window:\n$dw")
    assert(!dw.contains("props"), s"dwell reads pruned event columns:\n$dw")
  }

  test("closure census keeps equi/semi joins and explode fan-out of 3") {
    val p = plan("g_closure_by_degree")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"closure census degraded to a product join:\n$p")
    assert(p.contains("LeftSemi"), s"close check lost its semi join:\n$p")
  }

  test("error budget windows only the day aggregate; calibration is " +
    "prefix-sum ranked") {
    // budget: the unbounded running sum must sit ABOVE the day-grain
    // aggregate (≤31 rows), so the plan is Window-over-Aggregate with
    // no data-sized join.
    val eb = plan("ev_error_budget")
    assert(!eb.contains("Join"), s"error budget grew a join:\n$eb")
    assert(eb.contains("Window"), s"error budget lost its window:\n$eb")
    // calibration: the global rank must come from the distributed
    // prefix sum (range partition + pid-local window + broadcast
    // offsets) — a Window with an empty partitionBy over the CORPUS
    // would be the single-partition funnel the operator exists to
    // avoid. The broadcast offset join is the witness.
    val qc = plan("t_quality_calibration")
    assert(qc.contains("BroadcastHashJoin"),
      s"calibration lost its broadcast offset join:\n$qc")
    assert(qc.contains("Window"), s"calibration lost the local window:\n$qc")
  }

  test("threshold sweep pays one LSH pass; rule halves join equi") {
    // sweep: candidate generation + verification appear ONCE — the
    // three thresholds are conditional sums, so the banded self-join
    // count must match the single-run t_neardup_pairs shape.
    val ts = plan("t_jaccard_threshold_sweep")
    assert(!ts.contains("CartesianProduct") &&
      !ts.contains("BroadcastNestedLoopJoin"),
      s"threshold sweep degraded to a product join:\n$ts")
    val rs = plan("fi_rule_stability")
    assert(!rs.contains("CartesianProduct") &&
      !rs.contains("BroadcastNestedLoopJoin"),
      s"rule stability degraded to a product join:\n$rs")
    assert(rs.contains("FullOuter"),
      s"rule stability lost its full-outer overlap join:\n$rs")
  }

  test("trained-quantizer assignment is the native centroid_cell — no " +
    "interpreted HOF hot loop") {
    // The r6 regression class (VERDICT r6 items 1-2): per-row IVF cell
    // assignment through interpreted `aggregate(zip_with(vec, <64
    // literals>))` trees, duplicated inside a greatest/CASE argmax,
    // made two 8-row diagnostics cost ~40 s each. The assignment must
    // come from the native codegen expression; these two plans have NO
    // other higher-order function, so any aggregate(zip_with showing
    // up again is the regression.
    for (q <- Seq("sim_cell_balance", "sim_diverse_sample")) {
      val p = plan(q)
      assert(p.contains("centroid_cell"),
        s"$q lost the native assignment expression:\n$p")
      assert(!p.contains("zip_with") && !p.contains("aggregate("),
        s"$q reintroduced an interpreted HOF hot loop:\n$p")
    }
    // The multi-probe variant must ride the same native path.
    val probe = plan("sim_topk_ivf_trained_probe")
    assert(probe.contains("centroid_"),
      s"trained probe lost the native assignment expression:\n$probe")
  }

  test("the most expensive headline plans carry no interpreted-HOF " +
    "hot loop (aggregate-over-zip_with per corpus row)") {
    // The r6 verdict's mechanical tripwire, generalized: the bench's
    // top-cost queries (every pin ≥ ~4 s) must not evaluate an
    // `aggregate(zip_with(...))` lambda pair per data row — the
    // nested-lambda form runs OUTSIDE whole-stage codegen (PLANS.md
    // "nested-lambda codegen cliff"; 598 s winnowing, 42 s k-means
    // assignment) — nor fall back to a product join. Queries whose
    // per-row HOFs are bounded by construction (broadcast query sets,
    // bucket joins) are not in this list; if one ever grows into the
    // top tier with a HOF, this test forces the documented-precedent
    // conversation.
    val topCost = Seq("t_setsim_prefix", "t_setsim_incremental",
      "t_winnow_pairs", "t_winnow_fp", "t_training_pipeline",
      "pipeline_warehouse_counts", "t_curation_funnel", "t_dup_spans",
      "s17_zorder_box", "t_ccnet_by_lang", "t_dedup_savings",
      "t_neardup_profile", "t_lsh_band_sweep",
      "t_jaccard_threshold_sweep")
    for (q <- topCost) {
      val p = plan(q)
      assert(!p.contains("aggregate(zip_with"),
        s"$q grew an interpreted aggregate-over-zip_with hot loop:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q degraded to a cartesian product:\n$p")
    }
  }

  test("binary-quant funnels code-rank natively; no cartesian degrade") {
    // The BQ tier-1 scan must rank by the native projection_bits +
    // hamming_dist pair (both codegen'd) — a rewrite through
    // interpreted per-bit lambdas would put a HOF on the per-corpus-row
    // path, the r6 regression class. The tier-2 rerank's HOF dot is
    // bounded by construction (Q·cTop broadcast candidates), so only
    // the tier-1 shape is pinned here. sim_topk_bq's corpus×queries
    // code compare is a deliberate broadcast loop join (5 query rows);
    // the composed variant must instead prune through the hash
    // equi-join on the native cell assignment, with no cartesian
    // anywhere.
    for (q <- Seq("sim_topk_bq", "sim_topk_ivf_bq", "sim_topk_bq_persist",
        "sim_topk_ivf_bq_persist")) {
      val p = plan(q)
      assert(p.contains("projection_bits"),
        s"$q lost the native sign-code expression:\n$p")
      assert(p.contains("hamming_dist"),
        s"$q lost the native Hamming ranking:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q degraded to a cartesian product:\n$p")
    }
    val composed = plan("sim_topk_ivf_bq")
    assert(composed.contains("centroid_cell") &&
      composed.contains("centroid_probe_cells"),
      s"composed funnel lost the native cell prune:\n$composed")
    // The persisted variant's tier-1 corpus codes must come from the
    // staged parquet index — a plan that re-encodes the corpus per query
    // defeats the build-once/query-many point.
    val persisted = plan("sim_topk_bq_persist")
    assert(persisted.contains("graft_bq_idx"),
      s"persisted funnel does not scan the staged code table:\n$persisted")
    // The composed persisted variant reads BOTH pruning tiers (cell +
    // code) from the ONE staged index table; only the query side may
    // cell-assign and encode — a plan that re-derives corpus cells or
    // codes per query defeats the build-once/query-many point.
    val cp = plan("sim_topk_ivf_bq_persist")
    assert(cp.contains("graft_ivfbq_idx"),
      s"composed persisted funnel does not scan the staged index:\n$cp")
    assert(cp.contains("centroid_probe_cells"),
      s"composed persisted funnel lost the query-side probe list:\n$cp")
  }

  test("set-overlap verify steps run the native sorted-merge kernel") {
    // Every exact-overlap verify (PPJoin Jaccard, shingle Jaccard,
    // winnow containment) must count |A∩B| with sorted_intersect_size —
    // the zero-allocation merge over doc-side-sorted arrays — not the
    // built-in array_intersect, whose per-pair hash set + materialized
    // result array is pure garbage pressure on the funnel's hottest
    // row count (candidate pairs ≫ docs).
    for (q <- Seq("t_neardup_pairs", "t_containment_scaled")) {
      val p = plan(q)
      assert(p.contains("sorted_intersect_size"),
        s"$q lost the native overlap kernel:\n$p")
      assert(!p.contains("array_intersect"),
        s"$q re-grew an array_intersect verify:\n$p")
    }
    // The setsim queries stage their verified pairs (localCheckpoint)
    // before the final sort since r16 — the registered query's plan
    // shows only the staged scan, so the kernel assertion runs on the
    // OPERATOR's plan (the subtree above the group boundary, where the
    // verify join lives).
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val op = graft.operators.SetSimJoin
      .prefixJaccardPairs(docsDf, "doc_id", "text", 9, 10)
      .queryExecution.executedPlan.toString
    assert(op.contains("sorted_intersect_size"),
      s"prefixJaccardPairs lost the native overlap kernel:\n$op")
    assert(!op.contains("array_intersect"),
      s"prefixJaccardPairs re-grew an array_intersect verify:\n$op")
  }

  test("p-chart and growth accounting stay on aggregate-sized state") {
    // p-chart: one day aggregate + broadcast totals, no data-sized join.
    val pc = plan("ev_error_pchart")
    assert(!pc.contains("SortMergeJoin"),
      s"p-chart gained a data-sized join:\n$pc")
    // growth accounting: the user-keyed window is the only fact shuffle;
    // the churn/active reconciliation joins week-sized aggregates.
    val ga = plan("ev_growth_accounting")
    assert(ga.contains("Window"), s"growth accounting lost its window:\n$ga")
  }
}
