package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{GenreMap, Pipelines}
import graft.operators.{Scd2, StarSchema}
import graft.sources.Tables

/** The reference's WHOLE pipeline chain — clean (limpiezaSpotify.py:72-105)
  * → merge (merge_to_dw.py:47-84) → warehouse (merge_to_dw.py:124-325) —
  * registered as end-to-end oracle-checked queries, the composed-plan
  * analog of `t_curation_funnel`: a real user runs the pipeline, not 51
  * operators one at a time.
  *
  * The pipelines run over reference-SHAPED inputs derived deterministically
  * from the synthetic corpus (every expression mirrored in the DuckDB
  * oracle):
  *
  *  - spotify tracks ≙ lineitem ⋈ part — each lineitem row is one raw
  *    track row, so a part's rows are the duplicate cluster the clean
  *    step's mode-or-first dedup has to collapse (track_id = p_partkey,
  *    popularity = l_quantity varies per duplicate, audio features ride
  *    along as order-stable carries);
  *  - track_genre cycles through the SHIPPED 114-entry genre vocabulary
  *    ([[GenreMap]]) plus six unmapped values, so both the mapped path and
  *    the `('Otro', track_genre)` default path are exercised;
  *  - grammys ≙ first lineitem of every 4th order (nominee/artist =
  *    p_name/p_mfgr — overlapping the spotify keys for `both` rows) plus a
  *    customer-derived slice that matches nothing (`right_only`), with
  *    planted NULLs in artist (the fillna("") key trap), category and
  *    album (the fact-gate paths), and published/updated (Dim_Event's
  *    optional columns).
  *
  * Scale: the chain inherits its operators' plans — the clean step's dedup
  * is ONE hash exchange (Relational.modeOrFirstMulti), the genre lookup is
  * a broadcast join, the merge is a shuffle join AQE can skew-split, and
  * the warehouse's fact keys are derived per row, not joined — nothing
  * here adds a shuffle beyond those.
  */
object PipelineQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Genre vocabulary plus deliberately-unmapped slots: pmod(p_partkey)
    * indexes this list, so ~5% of tracks take the 'Otro' default path.
    */
  val genreSlots: Seq[String] =
    GenreMap.keys ++ (1 to 6).map(i => s"tpch-unmapped-$i")

  /** Reference-shaped raw spotify table derived from lineitem ⋈ part.
    * The lineitem side is reader-spread (guide §2.5): the 26-column
    * projection + the clean step's dedup map side otherwise run on the
    * single scan split. Downstream aggregates are counts / deterministic
    * mode picks / distinct — placement result-neutral.
    */
  def spotifyLike(s: SparkSession, d: String): DataFrame =
    Tables.spread(t(s, d, "lineitem"), "l_orderkey")
      .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .select(
        (col("l_orderkey") * 8 + col("l_linenumber")).as("row_idx"),
        col("p_partkey").as("track_id"),
        col("p_type").as("artists"),
        // One brand goes NULL so the album FK gate drops real rows.
        when(col("p_brand") === "Brand#55", lit(null).cast("string"))
          .otherwise(col("p_brand")).as("album_name"),
        col("p_name").as("track_name"),
        col("l_quantity").as("popularity"),
        col("l_extendedprice").as("duration_ms"),
        (col("l_returnflag") === "R").as("explicit"),
        col("l_discount").as("danceability"),
        col("l_tax").as("energy"),
        col("l_linenumber").as("track_key"),
        (-(col("l_tax") * 10)).as("loudness"),
        pmod(col("p_partkey"), lit(2)).as("mode"),
        (col("l_discount") * 2).as("speechiness"),
        (col("l_tax") * 2).as("acousticness"),
        (col("l_discount") + col("l_tax")).as("instrumentalness"),
        (col("l_discount") * 3).as("liveness"),
        (col("l_tax") * 3).as("valence"),
        (col("l_quantity") * 3).as("tempo"),
        pmod(col("l_suppkey"), lit(5)).as("time_signature"),
        element_at(array(genreSlots.map(lit): _*),
          (pmod(col("p_partkey"), lit(genreSlots.size)) + 1).cast("int"))
          .as("track_genre"))

  /** Reference-shaped grammy table: an orders-derived slice sharing the
    * spotify keys, plus a customer-derived slice matching nothing.
    */
  def grammyLike(s: SparkSession, d: String): DataFrame = {
    val yr = year(col("o_orderdate"))
    val fromOrders = t(s, d, "lineitem")
      .where(col("l_linenumber") === 1)
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .where(pmod(col("o_orderkey"), lit(4)) === 0)
      .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .select(
        yr.as("year"),
        concat(lit("Grammy Awards "), yr.cast("string")).as("title"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("published_at"),
        when(pmod(col("o_orderkey"), lit(8)) === 0, lit(null).cast("string"))
          .otherwise(date_format(date_add(col("o_orderdate"), 7),
            "yyyy-MM-dd")).as("updated_at"),
        when(col("o_orderpriority") === "1-URGENT", lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("category"),
        col("p_name").as("nominee"),
        col("p_type").as("artist"),
        concat(lit("worker_"),
          pmod(col("o_custkey"), lit(100)).cast("string")).as("workers"),
        when(pmod(col("o_orderkey"), lit(16)) === 0, lit(null).cast("string"))
          .otherwise(concat(lit("img_"), col("o_orderkey").cast("string")))
          .as("img"),
        (col("o_orderstatus") === "F").as("winner"))
    val rightOnly = t(s, d, "customer")
      .where(pmod(col("c_custkey"), lit(10)) === 0)
      .select(
        (lit(1990) + pmod(col("c_custkey"), lit(30))).cast("int").as("year"),
        concat(lit("Grammy Awards "),
          (lit(1990) + pmod(col("c_custkey"), lit(30))).cast("string"))
          .as("title"),
        lit(null).cast("string").as("published_at"),
        lit(null).cast("string").as("updated_at"),
        // NULL category on one segment: those grammy facts get gated out.
        when(col("c_mktsegment") === "BUILDING", lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("category"),
        col("c_name").as("nominee"),
        // NULL artist: the normalize step's fillna("") key trap.
        lit(null).cast("string").as("artist"),
        lit(null).cast("string").as("workers"),
        lit(null).cast("string").as("img"),
        (pmod(col("c_custkey"), lit(20)) === 0).as("winner"))
    fromOrders.unionByName(rightOnly)
  }

  private def clean(s: SparkSession, d: String): DataFrame =
    Pipelines.cleanTracks(spotifyLike(s, d), GenreMap.df(s), "row_idx")

  private def merged(s: SparkSession, d: String): DataFrame =
    Pipelines.mergeSpotifyGrammys(clean(s, d), grammyLike(s, d))

  /** SCD2 fixture: customer-segment dimension loaded at 1995-01-01 from a
    * partial snapshot (80% of keys), then a 1996-01-01 snapshot of ALL
    * keys where every third key's segment changed — exercising all four
    * apply paths (unchanged / changed / new key / absent key).
    */
  private def scd2Dim(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer")
    val snap1 = cust.where(pmod(col("c_custkey"), lit(5)) =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    val snap2 = cust.select(col("c_custkey"),
      when(pmod(col("c_custkey"), lit(3)) === 0,
        concat(lit("CHG-"), col("c_mktsegment")))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    Scd2.applySnapshot(
      Scd2.init(snap1, Seq("c_custkey"), Seq("c_mktsegment"),
        lit("1995-01-01")),
      snap2, Seq("c_custkey"), Seq("c_mktsegment"), lit("1996-01-01"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Stage 1 end-to-end: genre map → mode-or-first dedup → distinct,
    // with the SHIPPED genre mapping (limpiezaSpotify.py:72-105).
    "pipeline_clean" -> ((s, d) => clean(s, d).orderBy(col("track_id"))),

    // Stage 1+2: the full-outer merge's _merge distribution
    // (merge_to_dw.py:71-84) over the cleaned output.
    "pipeline_merge_dist" -> ((s, d) =>
      merged(s, d).groupBy(col("_merge")).agg(count(lit(1)).as("n"))
        .orderBy(col("_merge"))),

    // Stage 1+2+3: the whole warehouse — six dims + two gated fact tables
    // (merge_to_dw.py:124-325) — as (table, row count), ONE composed plan
    // from raw inputs to star schema.
    //
    // The merge output is STAGED first (parquet write + re-scan,
    // Tables.stage): buildWarehouse fans the SAME merged relation into 8
    // outputs (6 dim distincts + 2 gated facts, their FKs derived in
    // place, not joined), so without a stage boundary the clean→merge
    // chain is recomputed per branch. A parquet stage
    // beats `.persist()` here twice over: each branch scan is
    // column-pruned (a dim build reads 1-4 of the 26 columns), and the
    // in-memory cache's columnar encoding of all 26 columns cost more
    // than the recompute it saved. At 100 TB this IS the design: the
    // merge output is the staging table written to the lake between
    // pipeline stages.
    "pipeline_warehouse_counts" -> ((s, d) => {
      val mg = Tables.stage(merged(s, d),
        Tables.scratchDir("graft_stage_merged", d))
      val tables = Pipelines.buildWarehouse(mg)
      tables.toSeq.sortBy(_._1).map { case (name, df) =>
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(name).as("table_name"), col("n_rows"))
      }.reduce(_ unionByName _).orderBy(col("table_name"))
    }),

    // Generic MERGE INTO (LakeMerge.mergeInto): a CDC change-set against
    // the customer table — every third key updates its balance, every
    // ninth deletes, and a disjoint synthetic batch inserts — as ONE
    // full-outer join + projection + filter. Balances ride as
    // DECIMAL(12,2) so update arithmetic is exact in both engines.
    "lake_merge" -> ((s, d) => {
      val bal = col("c_acctbal").cast("decimal(12,2)")
      val cust = t(s, d, "customer")
      val tgt = cust.select(col("c_custkey"), col("c_name"),
        bal.as("c_acctbal"))
      val updates = cust.where(pmod(col("c_custkey"), lit(3)) === 0)
        .select(col("c_custkey"), (bal + 100).as("new_bal"),
          (pmod(col("c_custkey"), lit(9)) === 0).as("del"))
      val inserts = cust.where(pmod(col("c_custkey"), lit(10)) === 7)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          lit(1.23).cast("decimal(13,2)").as("new_bal"),
          lit(false).as("del"))
      graft.operators.LakeMerge.mergeInto(
        tgt, updates.unionByName(inserts), "c_custkey",
        whenMatchedUpdate = Map("c_acctbal" -> col("s.new_bal")),
        whenMatchedDelete = col("s.del"),
        whenNotMatchedInsert = Map(
          "c_custkey" -> col("s.c_custkey"),
          "c_name" -> lit("merged-insert"),
          "c_acctbal" -> col("s.new_bal")))
        // Balance surfaced as exact cents: DECIMAL stays internal (the
        // driver's hasher can't canonicalize DECIMAL across engines).
        .withColumn("bal_cents",
          (col("c_acctbal").cast("decimal(14,2)") * 100).cast("long"))
        .drop("c_acctbal")
        .orderBy(col("c_custkey"))
    }),

    // SCD2 versioned dimension (Scd2.init + applySnapshot): the full
    // version table after the 1996 snapshot lands — closed rows carry
    // their [valid_from, valid_to) interval. Open rows surface the
    // conventional 9999-12-31 high-date sentinel (kept NULL inside the
    // operator; the sentinel also keeps the compare free of NULL-vs-NULL
    // date semantics).
    "scd2_versions" -> ((s, d) =>
      scd2Dim(s, d)
        .withColumn("valid_to",
          coalesce(col("valid_to"), lit("9999-12-31").cast("date")))
        .orderBy(col("c_custkey"), col("valid_from"))),

    // SCD2 point-in-time resolution: segment populations AS OF two probe
    // dates straddling the snapshot, in ONE pass over the version table
    // (each version row fans out to the probe dates it covers).
    "scd2_asof" -> ((s, d) => {
      val probes = Seq("1995-06-01", "1996-06-01")
      scd2Dim(s, d)
        .withColumn("at",
          explode(array(probes.map(p => lit(p).cast("date")): _*)))
        .where(col("valid_from") <= col("at") &&
          (col("valid_to").isNull || col("at") < col("valid_to")))
        .groupBy(col("at"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("at"), col("c_mktsegment"))
    }),

    // SCD2 fact ENRICHMENT — the query versioned dimensions exist for:
    // each order joins the segment its customer was in AS OF the order
    // date (key equi-join + interval post-filter; intervals partition
    // time per key, so each fact matches at most one version). Orders
    // predating the customer's first version report UNKNOWN — visible
    // history gaps, never silent drops.
    "scd2_enrich" -> ((s, d) => {
      val dim = scd2Dim(s, d)
      val o = t(s, d, "orders")
      o.join(dim, o("o_custkey") === dim("c_custkey") &&
          dim("valid_from") <= o("o_orderdate") &&
          (dim("valid_to").isNull ||
            o("o_orderdate") < dim("valid_to")), "left")
        .groupBy(year(col("o_orderdate")).as("yr"),
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
        .agg(count(lit(1)).as("n"),
          (sum(col("o_totalprice").cast("decimal(20,2)"))
            .cast("decimal(20,2)") * 100).cast("long").as("rev_cents"))
        .orderBy(col("yr"), col("segment"))
    }),

    // Incremental dim upsert (StarSchema.upsertDim): load half the parts,
    // upsert the full set, and check every surrogate id equals a fresh
    // single-shot build — hash surrogates make incremental loads
    // idempotent and re-runnable (ids never depend on load history).
    "pipeline_upsert_dim" -> ((s, d) => {
      val part = t(s, d, "part")
      val batch1 = part.where(pmod(col("p_partkey"), lit(2)) === 0)
      val batch2 = part.where(pmod(col("p_partkey"), lit(2)) === 1)
      val incremental = StarSchema.upsertDim(
        StarSchema.buildDim(batch1, "brand_id", Seq("p_brand")),
        batch2, "brand_id", Seq("p_brand"))
      val full = StarSchema.buildDim(part, "brand_id", Seq("p_brand"))
        .withColumnsRenamed(Map("brand_id" -> "full_id"))
      incremental.join(full, Seq("p_brand"), "full")
        .select(col("p_brand"),
          (col("brand_id") === col("full_id")).as("id_stable"))
        .orderBy(col("p_brand"))
    })
  )

  // ---- DuckDB oracles, generated from the same literals ----------------

  private val genreList =
    genreSlots.map(g => "'" + g + "'").mkString("[", ",", "]")

  /** Raw spotify CTE — expression-for-expression the [[spotifyLike]] plan. */
  private val spCte =
    s"""sp AS (SELECT l_orderkey*8+l_linenumber AS row_idx,
       |  p_partkey AS track_id, p_type AS artists,
       |  nullif(p_brand,'Brand#55') AS album_name, p_name AS track_name,
       |  l_quantity AS popularity, l_extendedprice AS duration_ms,
       |  (l_returnflag='R') AS explicit, l_discount AS danceability,
       |  l_tax AS energy, l_linenumber AS track_key, -(l_tax*10) AS loudness,
       |  p_partkey%2 AS mode, l_discount*2 AS speechiness,
       |  l_tax*2 AS acousticness, l_discount+l_tax AS instrumentalness,
       |  l_discount*3 AS liveness, l_tax*3 AS valence, l_quantity*3 AS tempo,
       |  l_suppkey%5 AS time_signature,
       |  list_extract($genreList, CAST(p_partkey%${genreSlots.size} AS INT)+1) AS track_genre
       |  FROM lineitem JOIN part ON l_partkey=p_partkey)""".stripMargin

  /** Clean CTE: genre-map join (the shipped mapping inlined as VALUES),
    * mode of popularity (count desc, value asc), first-by-row_idx carries,
    * DISTINCT — limpiezaSpotify.py:72-105 in SQL.
    */
  private val cleanCte =
    s"""$spCte,
       |mp AS (SELECT sp.*, coalesce(m.genero,'Otro') AS genero,
       |  coalesce(m.subgenero, sp.track_genre) AS subgenero
       |  FROM sp LEFT JOIN ${GenreMap.sqlValues}
       |    ON sp.track_genre = m.track_genre),
       |md AS (SELECT track_id, popularity,
       |  row_number() OVER (PARTITION BY track_id
       |    ORDER BY count(*) DESC, popularity) AS rn
       |  FROM mp GROUP BY track_id, popularity),
       |fr AS (SELECT *, row_number() OVER (PARTITION BY track_id
       |  ORDER BY row_idx) AS rn FROM mp),
       |clean AS (SELECT DISTINCT f.track_id, f.artists, f.album_name,
       |  f.track_name, f.duration_ms, f.explicit, f.danceability, f.energy,
       |  f.track_key, f.loudness, f.mode, f.speechiness, f.acousticness,
       |  f.instrumentalness, f.liveness, f.valence, f.tempo,
       |  f.time_signature, f.genero, f.subgenero, md.popularity
       |  FROM fr f JOIN md ON f.track_id=md.track_id AND f.rn=1 AND md.rn=1)""".stripMargin

  /** Grammy CTE — expression-for-expression the [[grammyLike]] plan. */
  private val grammyCte =
    """gr AS (
      |  SELECT year(o_orderdate) AS year,
      |    'Grammy Awards ' || CAST(year(o_orderdate) AS VARCHAR) AS title,
      |    strftime(o_orderdate, '%Y-%m-%d') AS published_at,
      |    CASE WHEN o_orderkey%8=0 THEN NULL
      |      ELSE strftime(o_orderdate + INTERVAL 7 DAY, '%Y-%m-%d') END AS updated_at,
      |    nullif(o_orderpriority,'1-URGENT') AS category,
      |    p_name AS nominee, p_type AS artist,
      |    'worker_' || CAST(o_custkey%100 AS VARCHAR) AS workers,
      |    CASE WHEN o_orderkey%16=0 THEN NULL
      |      ELSE 'img_' || CAST(o_orderkey AS VARCHAR) END AS img,
      |    (o_orderstatus='F') AS winner
      |  FROM lineitem JOIN orders ON l_orderkey=o_orderkey
      |  JOIN part ON l_partkey=p_partkey
      |  WHERE l_linenumber=1 AND o_orderkey%4=0
      |UNION ALL
      |  SELECT CAST(1990 + c_custkey%30 AS INT) AS year,
      |    'Grammy Awards ' || CAST(1990 + c_custkey%30 AS VARCHAR) AS title,
      |    NULL AS published_at, NULL AS updated_at,
      |    nullif(c_mktsegment,'BUILDING') AS category,
      |    c_name AS nominee, NULL AS artist, NULL AS workers, NULL AS img,
      |    (c_custkey%20=0) AS winner
      |  FROM customer WHERE c_custkey%10=0)""".stripMargin

  /** Merge CTE: normalize both sides' keys (null→'', trim, lower), full
    * outer join, `_merge` from per-side presence — merge_to_dw.py:47-84.
    */
  private val mergedCte =
    s"""$cleanCte,
       |$grammyCte,
       |ln AS (SELECT * REPLACE (
       |    lower(trim(coalesce(CAST(track_name AS VARCHAR),''))) AS track_name,
       |    lower(trim(coalesce(CAST(artists AS VARCHAR),''))) AS artists)
       |  FROM clean),
       |rn AS (SELECT year, title, published_at, updated_at, category,
       |    lower(trim(coalesce(CAST(nominee AS VARCHAR),''))) AS track_name,
       |    lower(trim(coalesce(CAST(artist AS VARCHAR),''))) AS artists,
       |    workers, img, winner
       |  FROM gr),
       |mg AS (SELECT
       |    coalesce(l.track_name, r.track_name) AS track_name,
       |    coalesce(l.artists, r.artists) AS artists,
       |    l.album_name, l.genero, l.subgenero,
       |    r.year, r.title, r.published_at, r.updated_at, r.category,
       |    CASE WHEN l.track_name IS NOT NULL AND r.track_name IS NOT NULL
       |      THEN 'both' WHEN l.track_name IS NOT NULL THEN 'left_only'
       |      ELSE 'right_only' END AS _merge
       |  FROM ln l FULL JOIN rn r
       |    ON l.track_name=r.track_name AND l.artists=r.artists)""".stripMargin

  /** SCD2 oracle: replays [[scd2Dim]] declaratively — the version table
    * is fully determined by the two snapshots and the apply semantics
    * (`IS DISTINCT FROM` is DuckDB's null-safe inequality, matching the
    * operator's `!(a <=> b)` change test).
    */
  private val scd2Cte =
    """s1 AS (SELECT c_custkey, c_mktsegment FROM customer
      |  WHERE c_custkey%5<>0),
      |s2 AS (SELECT c_custkey,
      |  CASE WHEN c_custkey%3=0 THEN 'CHG-'||c_mktsegment
      |    ELSE c_mktsegment END AS c_mktsegment FROM customer),
      |v AS (
      |  SELECT s1.c_custkey, s1.c_mktsegment,
      |    DATE '1995-01-01' AS valid_from,
      |    CASE WHEN s2.c_custkey IS NOT NULL
      |      AND s2.c_mktsegment IS DISTINCT FROM s1.c_mktsegment
      |      THEN DATE '1996-01-01' END AS valid_to
      |  FROM s1 LEFT JOIN s2 ON s1.c_custkey=s2.c_custkey
      |  UNION ALL
      |  SELECT s2.c_custkey, s2.c_mktsegment, DATE '1996-01-01',
      |    CAST(NULL AS DATE)
      |  FROM s2 LEFT JOIN s1 ON s2.c_custkey=s1.c_custkey
      |  WHERE s1.c_custkey IS NULL
      |     OR s2.c_mktsegment IS DISTINCT FROM s1.c_mktsegment)""".stripMargin

  val oracles: Map[String, String] = Map(
    "lake_merge" ->
      """WITH tgt AS (SELECT c_custkey, c_name,
        |  CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal FROM customer),
        |src AS (
        |  SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(12,2)) + 100
        |      AS new_bal, (c_custkey % 9 = 0) AS del
        |  FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, CAST(1.23 AS DECIMAL(13,2)), false
        |  FROM customer WHERE c_custkey % 10 = 7),
        |m AS (SELECT t.c_custkey AS tk, s.k AS sk, t.c_name, t.c_acctbal,
        |        s.new_bal, s.del
        |      FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.k)
        |SELECT CAST(coalesce(tk, sk) AS BIGINT) AS c_custkey,
        |  CASE WHEN tk IS NULL THEN 'merged-insert' ELSE c_name END
        |    AS c_name,
        |  CAST(CAST(CASE WHEN tk IS NULL OR sk IS NOT NULL THEN new_bal
        |       ELSE c_acctbal END AS DECIMAL(14,2)) * 100 AS BIGINT)
        |    AS bal_cents
        |FROM m
        |WHERE NOT (tk IS NOT NULL AND sk IS NOT NULL
        |           AND coalesce(del, false))
        |ORDER BY c_custkey""".stripMargin,

    "pipeline_clean" ->
      s"WITH $cleanCte SELECT * FROM clean ORDER BY track_id",

    "pipeline_merge_dist" ->
      s"""WITH $mergedCte
         |SELECT _merge, count(*) AS n FROM mg GROUP BY 1 ORDER BY 1""".stripMargin,

    // Dim counts = distinct natural keys with any component present
    // (StarSchema.buildDim); fact counts = rows surviving the FK-complete
    // gate — album/category NULLs are the planted gate failures.
    "pipeline_warehouse_counts" ->
      s"""WITH $mergedCte
         |SELECT 'Dim_Album' AS table_name, count(DISTINCT album_name) AS n_rows FROM mg
         |UNION ALL SELECT 'Dim_Artist', count(DISTINCT artists) FROM mg
         |UNION ALL SELECT 'Dim_Category', count(DISTINCT category) FROM mg
         |UNION ALL SELECT 'Dim_Event', (SELECT count(*) FROM
         |  (SELECT DISTINCT year, title, published_at, updated_at FROM mg
         |   WHERE year IS NOT NULL OR title IS NOT NULL
         |      OR published_at IS NOT NULL OR updated_at IS NOT NULL))
         |UNION ALL SELECT 'Dim_Genre', (SELECT count(*) FROM
         |  (SELECT DISTINCT genero, subgenero FROM mg
         |   WHERE genero IS NOT NULL OR subgenero IS NOT NULL))
         |UNION ALL SELECT 'Dim_Song', count(DISTINCT track_name) FROM mg
         |UNION ALL SELECT 'Fact_Grammy_Awards', count(*) FILTER (
         |  WHERE _merge IN ('both','right_only') AND category IS NOT NULL) FROM mg
         |UNION ALL SELECT 'Fact_Spotify_Tracks', count(*) FILTER (
         |  WHERE _merge IN ('both','left_only') AND album_name IS NOT NULL) FROM mg
         |ORDER BY table_name""".stripMargin,

    "scd2_versions" ->
      s"""WITH $scd2Cte
         |SELECT c_custkey, c_mktsegment, valid_from,
         |coalesce(valid_to, DATE '9999-12-31') AS valid_to
         |FROM v ORDER BY c_custkey, valid_from""".stripMargin,

    "scd2_enrich" ->
      s"""WITH $scd2Cte
         |SELECT CAST(year(o_orderdate) AS INT) AS yr,
         |  coalesce(v.c_mktsegment, 'UNKNOWN') AS segment,
         |  count(*) AS n,
         |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(20,2)))
         |    AS DECIMAL(20,2)) * 100 AS BIGINT) AS rev_cents
         |FROM orders o LEFT JOIN v ON o.o_custkey = v.c_custkey
         |  AND v.valid_from <= o.o_orderdate
         |  AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "scd2_asof" ->
      s"""WITH $scd2Cte,
         |a AS (SELECT * FROM (VALUES (DATE '1995-06-01'),
         |  (DATE '1996-06-01')) t(at))
         |SELECT at, c_mktsegment, count(*) AS n FROM v CROSS JOIN a
         |WHERE valid_from <= at AND (valid_to IS NULL OR at < valid_to)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Every brand present, every id equal to a fresh full build.
    "pipeline_upsert_dim" ->
      """SELECT DISTINCT p_brand, true AS id_stable FROM part
        |ORDER BY p_brand""".stripMargin
  )
}
