package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Relational, StarSchema}

/** The reference's three pipelines (SURVEY.md §3), re-expressed as single
  * lazy Spark plans. Where the reference crosses an Airflow task/process
  * boundary and serializes whole datasets through XCom or /tmp parquet
  * (merge_to_dw.py:99, 107, 120→142), this engine has Catalyst-planned
  * jobs whose only physical boundaries are shuffles. Every function here
  * returns lazy plans; the caller picks what to materialize (`EtlJobs`
  * stages the merge once and feeds it to [[buildDims]] and
  * [[buildFacts]]).
  */
object Pipelines {

  /** P11: genre lookup with defaults (limpiezaSpotify.py:84-89). The
    * reference holds a 97-entry `track_genre → (genero, subgenero)` dict;
    * here the mapping is a broadcast-joined lookup DataFrame — the
    * idiomatic shape at scale (a literal `typedLit(Map)` burns the plan
    * size; a broadcast join stays O(1) per row and survives a mapping
    * that grows to millions of entries). Misses default to
    * (`Otro`, original genre), matching `.fillna('Otro')` /
    * `.fillna(track_genre)`.
    *
    * @param mapping rows of (track_genre, genero, subgenero)
    */
  def applyGenreMap(tracks: DataFrame, mapping: DataFrame): DataFrame =
    tracks
      .join(broadcast(mapping), Seq("track_genre"), "left")
      .withColumn("genero", coalesce(col("genero"), lit("Otro")))
      .withColumn("subgenero", coalesce(col("subgenero"), col("track_genre")))
      .drop("track_genre") // P2 (limpiezaSpotify.py:92)

  /** Pipeline 3.2 (`spotify_clean`, limpiezaSpotify.py:72-105): genre map
    * → per-track dedup with mode-or-first popularity → distinct.
    *
    * The per-track aggregate keeps `popularity` = deterministic mode
    * (ties → smallest; SURVEY.md §7.4.2) and every other column = first in
    * row order. Row order is pinned by `orderCol` (callers pass the
    * original CSV index) because Spark `first()` alone is not input-order
    * stable (§7.4.3).
    */
  def cleanTracks(tracks: DataFrame, mapping: DataFrame,
                  orderCol: String): DataFrame = {
    val mapped = applyGenreMap(tracks, mapping)
    val carry = mapped.columns.filterNot(c =>
      c == "track_id" || c == "popularity" || c == orderCol).toSeq
    // A1, fused: mode + all order-stable carries in one shuffle
    // (Relational.modeOrFirstMulti), instead of two aggregates + a join.
    // Pre-partition by track_id: popularity rarely repeats inside a raw
    // duplicate cluster, so the (track, popularity) pre-aggregate barely
    // compresses and the generic two-level plan would shuffle ~|rows| of
    // 20-wide carries twice. One explicit hash exchange satisfies BOTH
    // aggregate levels' distribution requirements (partitioning on a
    // subset of the grouping keys clusters them), so neither re-shuffles
    // — same trick as the a1_mode_first headline plan.
    Relational.modeOrFirstMulti(mapped.repartition(col("track_id")),
      "track_id", "popularity", orderCol, carry, "popularity")
      .select((("track_id" +: carry) :+ "popularity").map(col): _*)
    // The reference follows with drop_duplicates (limpiezaSpotify.py:101);
    // here it is subsumed: the aggregate emits exactly one row per
    // track_id, so every row is already distinct and the extra wide
    // shuffle a dropDuplicates() would add is provably a no-op.
  }

  /** Pipeline 3.1's merge step (`merge_spotify_and_grammys`,
    * merge_to_dw.py:47-84): rename grammy columns to align keys (P1),
    * flatten list-valued artists (P10), normalize both sides' keys
    * (P7-P9 — null→"" so null keys match, the pandas `fillna("")` trap),
    * then a full-outer join on (track_name, artists) with a `_merge`
    * indicator (J1).
    */
  def mergeSpotifyGrammys(spotify: DataFrame, grammys: DataFrame): DataFrame = {
    val keys = Seq("track_name", "artists")
    val g = grammys
      .withColumnsRenamed(Map("nominee" -> "track_name", "artist" -> "artists"))
    // P10: a list-valued artists column is flattened to ", "-joined text
    // (merge_to_dw.py:55-58) — resolved from the schema, not per row.
    val s = spotify.schema("artists").dataType match {
      case org.apache.spark.sql.types.ArrayType(_, _) =>
        spotify.withColumn("artists", array_join(col("artists"), ", "))
      case _ => spotify
    }
    Relational.fullOuterWithIndicator(
      Relational.normalizeKeys(s, keys),
      Relational.normalizeKeys(g, keys), keys)
  }

  /** Pipeline 3.1's load step re-architected set-based (S11/J2): six
    * dimensions built by dropDuplicates + xxhash64 surrogate keys, facts
    * resolved via six broadcast joins, gated on FK completeness
    * (merge_to_dw.py:124-325). Returns every warehouse table as one plan
    * per table, each reading `merged` directly.
    */
  def buildWarehouse(merged: DataFrame): Map[String, DataFrame] = {
    val dims = buildDims(merged)
    dims ++ buildFacts(merged, dims)
  }

  /** The six dimensions of [[buildWarehouse]], keyed by table name
    * (merge_to_dw.py:202-251).
    */
  def buildDims(merged: DataFrame): Map[String, DataFrame] = Map(
    "Dim_Song" -> StarSchema.buildDim(merged, "song_id", Seq("track_name"))
      .withColumnRenamed("track_name", "song_name"),
    "Dim_Artist" -> StarSchema.buildDim(merged, "artist_id", Seq("artists"))
      .withColumnRenamed("artists", "artist_name"),
    "Dim_Album" -> StarSchema.buildDim(merged, "album_id", Seq("album_name")),
    "Dim_Genre" -> StarSchema.buildDim(merged, "genre_id", Seq("genero", "subgenero")),
    "Dim_Category" -> StarSchema.buildDim(merged, "category_id", Seq("category")),
    "Dim_Event" -> StarSchema.buildDim(merged, "event_id",
      Seq("year", "title", "published_at", "updated_at")))

  /** The two fact tables of [[buildWarehouse]], keyed by table name, with
    * every foreign key resolved against `dims` — the plans
    * [[buildDims]] returns, or the same tables read back after they were
    * written (the reference loads its dimensions before its facts,
    * merge_to_dw.py:198-300).
    */
  def buildFacts(merged: DataFrame,
                 dims: Map[String, DataFrame]): Map[String, DataFrame] = {
    def kv(dim: String, key: Seq[String], id: String) =
      StarSchema.resolveFk(_: DataFrame,
        dims(dim).withColumnsRenamed(Map("song_name" -> "track_name",
          "artist_name" -> "artists")), key, id)

    val resolved = Seq(
      kv("Dim_Song", Seq("track_name"), "song_id"),
      kv("Dim_Artist", Seq("artists"), "artist_id"),
      kv("Dim_Album", Seq("album_name"), "album_id"),
      kv("Dim_Genre", Seq("genero", "subgenero"), "genre_id"),
      kv("Dim_Category", Seq("category"), "category_id"),
      kv("Dim_Event", Seq("year", "title", "published_at", "updated_at"), "event_id")
    ).foldLeft(merged)((df, f) => f(df))

    // Spotify fact rows need song+artist+album+genre keys; grammy fact rows
    // need song+artist+category+event keys (merge_to_dw.py:254, 288).
    val factSpotify = StarSchema.gateComplete(
      resolved.where(col("_merge").isin("both", "left_only")),
      Seq("song_id", "artist_id", "album_id", "genre_id"))
      .select(col("song_id"), col("artist_id"), col("album_id"),
        col("genre_id"), col("track_id"), col("popularity"),
        col("duration_ms"), col("explicit"), col("danceability"),
        col("energy"), col("track_key"), col("loudness"), col("mode"),
        col("speechiness"), col("acousticness"), col("instrumentalness"),
        col("liveness"), col("valence"), col("tempo"), col("time_signature"))
    val factGrammy = StarSchema.gateComplete(
      resolved.where(col("_merge").isin("both", "right_only")),
      Seq("song_id", "artist_id", "category_id", "event_id"))
      .select(col("song_id"), col("artist_id"), col("category_id"),
        col("event_id"), col("workers"), col("img"), col("winner"))

    Map("Fact_Spotify_Tracks" -> factSpotify, "Fact_Grammy_Awards" -> factGrammy)
  }
}
