package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{GenreMap, Pipelines}
import graft.jobs.EtlJobs
import graft.sources.Tables

/** The `EtlJobs` job bodies over the FIXTURES.md §A CSVs, run on the
  * shared session through `EtlJobs.run`.
  */
class EtlJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def res(name: String): String =
    getClass.getResource(s"/$name").getPath
  private val spotifyCsv = res("spotify_tracks.csv")
  private val grammyCsv = res("the_grammy_awards.csv")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The same clean → merge the job plans, unstaged. */
  private lazy val merged = Pipelines.mergeSpotifyGrammys(
    Pipelines.cleanTracks(Tables.readSpotifyCsv(spark, spotifyCsv),
      GenreMap.df(spark), "row_idx"),
    Tables.readGrammyCsv(spark, grammyCsv))

  test("etl: 8 tables equal to the unstaged warehouse, staging removed") {
    val out = tmp("etl-job")
    EtlJobs.run(spark, "etl", spotifyCsv, grammyCsv, out)
    val expected = Pipelines.buildWarehouse(merged)
    assert(expected.size == 8)
    expected.foreach { case (name, df) =>
      val written = spark.read.parquet(s"$out/$name")
      assert(written.columns.toSeq == df.columns.toSeq, name)
      assert(written.exceptAll(df).isEmpty && df.exceptAll(written).isEmpty, name)
    }
    assert(!new File(out, "_staging").exists())
  }

  test("etl: every fact foreign key exists in its written dimension") {
    val out = tmp("etl-job-fk")
    EtlJobs.run(spark, "etl", spotifyCsv, grammyCsv, out)
    def t(name: String) = spark.read.parquet(s"$out/$name")
    val fks = Seq(
      "Fact_Spotify_Tracks" -> Seq("Dim_Song" -> "song_id",
        "Dim_Artist" -> "artist_id", "Dim_Album" -> "album_id",
        "Dim_Genre" -> "genre_id"),
      "Fact_Grammy_Awards" -> Seq("Dim_Song" -> "song_id",
        "Dim_Artist" -> "artist_id", "Dim_Category" -> "category_id",
        "Dim_Event" -> "event_id"))
    fks.foreach { case (fact, refs) =>
      assert(t(fact).count() > 0, fact)
      refs.foreach { case (dim, id) =>
        val dangling = t(fact).select(id)
          .join(t(dim).select(id), Seq(id), "left_anti").count()
        assert(dangling == 0, s"$fact.$id -> $dim")
      }
    }
  }

  test("etl: a missing input throws and leaves no staging directory") {
    val out = tmp("etl-job-missing")
    intercept[Exception] {
      EtlJobs.run(spark, "etl", spotifyCsv, s"$out/no_such_grammys.csv", out)
    }
    assert(!new File(out, "_staging").exists())
  }

  test("etl load: a failure while staging still removes the staging directory") {
    val out = tmp("etl-job-stage-fail")
    val failing = merged.withColumn("track_name",
      when(col("_merge") === "right_only", raise_error(lit("forced failure")))
        .otherwise(col("track_name")))
    val e = intercept[Exception](EtlJobs.loadWarehouse(failing, out))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("forced failure")))
    assert(!new File(out, "_staging").exists())
  }

  test("write wave: runs in the caller's job group, waits for every write, rethrows") {
    val out = tmp("etl-wave")
    val bad = spark.range(100).select(
      when(col("id") === 42, raise_error(lit("wave failure"))).as("n"))
    // Outlives the failing write, and records the job group its task ran in.
    val slowGroup = udf { (_: Long) =>
      Thread.sleep(1500)
      org.apache.spark.TaskContext.get().getLocalProperty("spark.jobGroup.id")
    }
    val slow = spark.range(1).select(slowGroup(col("id")).as("group"))
    val sc = spark.sparkContext
    sc.setJobGroup("etl-wave-test", "write wave")
    val e =
      try intercept[Exception](EtlJobs.writeWave(out, Map("bad" -> bad, "slow" -> slow)))
      finally sc.clearJobGroup()
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("wave failure")))
    assert(new File(s"$out/slow/_SUCCESS").exists())
    assert(spark.read.parquet(s"$out/slow").collect().map(_.getString(0)).toSeq ==
      Seq("etl-wave-test"))
  }

  test("clean and drive write their single outputs") {
    val out = tmp("etl-job-csv")
    EtlJobs.run(spark, "clean", spotifyCsv, grammyCsv, out)
    EtlJobs.run(spark, "drive", spotifyCsv, grammyCsv, out)
    def csv(name: String) = spark.read.option("header", "true")
      .option("multiLine", "true").csv(s"$out/$name")
    assert(csv("spotify_clean_final").count() == 7)
    assert(csv("merged").count() == merged.count())
    assert(new File(out).list().toSet == Set("spotify_clean_final", "merged"))
  }

  test("an unknown job is refused before any work") {
    val out = tmp("etl-job-unknown")
    val e = intercept[IllegalArgumentException] {
      EtlJobs.run(spark, "load", spotifyCsv, grammyCsv, out)
    }
    assert(e.getMessage.contains("unknown job: load"))
    assert(new File(out).list().isEmpty)
    // main refuses it before it builds (and would then stop) a session.
    intercept[IllegalArgumentException] {
      EtlJobs.main(Array("load", spotifyCsv, grammyCsv, out))
    }
    assert(!spark.sparkContext.isStopped)
  }
}
