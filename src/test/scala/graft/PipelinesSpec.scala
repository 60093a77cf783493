package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Pipelines
import graft.operators.StarSchema
import graft.sources.Tables

/** End-to-end reference-shaped pipeline tests over the FIXTURES.md §A
  * CSVs (clean → merge → warehouse), asserting the golden facts the
  * fixtures were seeded with.
  */
class PipelinesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def res(name: String): String =
    getClass.getResource(s"/$name").getPath

  private lazy val spotify = Tables.readSpotifyCsv(spark, res("spotify_tracks.csv"))
  private lazy val grammys = Tables.readGrammyCsv(spark, res("the_grammy_awards.csv"))

  private lazy val genreMap: DataFrame = Seq(
    ("pop", "Pop", "Dance-Pop"),
    ("electro", "Electrónica", "House"),
    ("funk", "Funk", "Classic Funk"),
    ("soul", "Soul", "Classic Soul"),
    ("ambient", "Electrónica", "Ambient"))
    .toDF("track_genre", "genero", "subgenero")

  private lazy val clean = Pipelines.cleanTracks(spotify, genreMap, "row_idx")
  private lazy val merged = Pipelines.mergeSpotifyGrammys(clean, grammys)

  test("CSV ingest: Unnamed: 0 tolerated, reserved `key` renamed") {
    assert(spotify.columns.contains("row_idx"))
    assert(spotify.columns.contains("track_key"))
    assert(!spotify.columns.contains("key"))
    assert(spotify.count() == 10)
  }

  test("required-column assert fails fast on missing columns") {
    Tables.requireColumns(spotify, Seq("track_id", "popularity"))
    val e = intercept[IllegalArgumentException] {
      Tables.requireColumns(spotify, Seq("no_such_col"))
    }
    assert(e.getMessage.contains("no_such_col"))
  }

  test("clean: one row per track, mode ties -> smallest popularity") {
    assert(clean.count() == 7)
    val t1 = clean.where($"track_id" === "t1").select($"popularity")
      .as[Int].collect()
    assert(t1.toSeq == Seq(85)) // {90:2, 85:2} tie -> smallest
  }

  test("clean: genre map applies with Otro default and subgenero fallback") {
    val byId = clean.select($"track_id", $"genero", $"subgenero")
      .as[(String, String, String)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    assert(byId("t1") == ("Pop", "Dance-Pop"))
    assert(byId("t7") == ("Otro", "unknown-genre")) // unmapped genre
    assert(!clean.columns.contains("track_genre"))  // P2 dropped
  }

  test("merge: normalization makes messy keys join; indicator buckets") {
    val dist = merged.groupBy($"_merge").count()
      .as[(String, Long)].collect().toMap
    // 6 matches (incl. '  Stevie Wonder '/'stevie wonder' and
    // 'ADELE  '/'Adele'), t4 unmatched spotify, 2 unmatched grammys.
    assert(dist == Map("both" -> 6L, "left_only" -> 1L, "right_only" -> 2L))
  }

  test("merge: null keys join as empty string (pandas fillna semantics)") {
    // Spotify t4 has null artists; its normalized key is "" not null.
    val t4 = merged.where($"track_id" === "t4").select($"artists")
      .as[String].collect()
    assert(t4.toSeq == Seq(""))
  }

  test("warehouse: set-based dims, unique surrogates, gated facts") {
    val wh = Pipelines.buildWarehouse(merged)
    val dimArtist = wh("Dim_Artist")
    assert(dimArtist.count() ==
      dimArtist.select($"artist_id").distinct().count())
    assert(wh("Fact_Spotify_Tracks").count() == 7)
    assert(wh("Fact_Grammy_Awards").count() == 8)
    // FK resolution: every spotify fact's artist_id exists in the dim.
    val dangling = wh("Fact_Spotify_Tracks")
      .join(dimArtist, Seq("artist_id"), "left_anti").count()
    assert(dangling == 0)
  }

  test("warehouse: derived fact keys equal the ids the dimensions resolve") {
    val dims = Pipelines.buildDims(merged)
    val fks = Seq(
      ("Dim_Song", "song_id", Seq("track_name")),
      ("Dim_Artist", "artist_id", Seq("artists")),
      ("Dim_Album", "album_id", Seq("album_name")),
      ("Dim_Genre", "genre_id", Seq("genero", "subgenero")),
      ("Dim_Category", "category_id", Seq("category")),
      ("Dim_Event", "event_id", Seq("year", "title", "published_at", "updated_at")))
    // The join-resolved build: every FK looked up in its dimension.
    val joined = fks.foldLeft(merged) { case (df, (dim, id, key)) =>
      StarSchema.resolveFk(df, dims(dim).withColumnsRenamed(Map(
        "song_name" -> "track_name", "artist_name" -> "artists")), key, id)
    }
    fks.foreach { case (_, id, key) =>
      assert(!joined.where(col(id).isNotNull).isEmpty, id)
      assert(joined.where(!(col(id) <=> StarSchema.surrogateKey(key))).isEmpty, id)
    }
    val facts = Pipelines.buildFacts(merged)
    val gates = Map(
      "Fact_Spotify_Tracks" -> ("left_only", Seq("song_id", "artist_id", "album_id", "genre_id")),
      "Fact_Grammy_Awards" -> ("right_only", Seq("song_id", "artist_id", "category_id", "event_id")))
    assert(facts.keySet == gates.keySet)
    gates.foreach { case (name, (side, ids)) =>
      val df = facts(name)
      val expected = StarSchema.gateComplete(
        joined.where(col("_merge").isin("both", side)), ids)
        .select(df.columns.toSeq.map(col): _*)
      assert(!df.isEmpty, name)
      assert(df.exceptAll(expected).isEmpty && expected.exceptAll(df).isEmpty, name)
    }
  }

  test("grammy CSV: lenient year ingest keeps valid rows typed") {
    val years = grammys.select($"year").as[Option[Int]].collect()
    assert(years.flatten.min == 1968)
  }
}
