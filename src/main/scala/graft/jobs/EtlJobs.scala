package graft.jobs

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftSession
import graft.etl.Pipelines
import graft.sources.Tables

/** Runners replacing the reference's three Airflow DAG entry points
  * (SURVEY.md §3) with single Spark jobs — no XCom serialization, no /tmp
  * hand-off between tasks.
  *
  * Usage: runMain graft.jobs.EtlJobs <clean|etl|drive> \
  *          <spotifyCsv> <grammyCsv> <outDir> [genreMapCsv]
  *
  *  - clean ≙ `spotify_clean` (limpiezaSpotify.py:63-107): genre map →
  *    mode-or-first dedup → distinct → CSV export. One lazy plan.
  *  - etl   ≙ `etl_spotify_grammys` (merge_to_dw.py:328-346): merge →
  *    star-schema warehouse, each table written as parquet. The merge is
  *    staged once as parquet under `<outDir>/_staging` (the reference's
  *    /tmp hand-off, merge_to_dw.py:120→142), so the 8 tables never
  *    recompute clean → merge from the CSVs. Then one write wave: the six
  *    dimensions and the two facts, all from the staged merge,
  *    concurrently. The facts derive their foreign keys from the same
  *    hash that gives each dimension row its id
  *    (`StarSchema.surrogateKey`), so they need no written dimension to
  *    look up — where the reference loads dims before facts and SELECTs
  *    each id back (merge_to_dw.py:198-300). As in any wave, a table may
  *    be complete before the others: the warehouse is complete only when
  *    the job returns. The staging directory is deleted when the job
  *    ends, on success or failure.
  *  - drive ≙ `merge_spotify_grammys_to_drive` (merge_to_drive.py:39-75):
  *    merge → CSV export. One lazy plan.
  *
  * The genre mapping rides in as a (track_genre, genero, subgenero) CSV —
  * the reference's 97-entry inline dict (limpiezaSpotify.py:12-57) as
  * DATA, broadcast-joined, so a grown mapping never bloats the plan.
  */
object EtlJobs {

  private val jobs = Seq("clean", "etl", "drive")

  private def requireJob(job: String): Unit =
    require(jobs.contains(job),
      s"unknown job: $job (expected one of ${jobs.mkString("|")})")

  private def genreMap(spark: SparkSession, path: Option[String]): DataFrame =
    path match {
      case Some(p) =>
        spark.read.option("header", "true").csv(p)
          .select("track_genre", "genero", "subgenero")
      case None =>
        // Default: the reference's full mapping, shipped as data
        // (src/main/resources/genre_map.csv ≙ limpiezaSpotify.py:12-57).
        graft.etl.GenreMap.df(spark)
    }

  /** Builds a local session, runs `job` on it and stops it. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: <clean|etl|drive> <spotifyCsv> <grammyCsv> <outDir> [genreMapCsv]")
    val Array(job, spotifyCsv, grammyCsv, outDir) = args.take(4)
    requireJob(job)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, s"graft-$job")
    try run(spark, job, spotifyCsv, grammyCsv, outDir, args.drop(4).headOption)
    finally spark.stop()
  }

  /** The job body on a session the caller owns; never stops `spark`. */
  def run(spark: SparkSession, job: String, spotifyCsv: String,
          grammyCsv: String, outDir: String,
          genreMapCsv: Option[String] = None): Unit = {
    requireJob(job)
    val spotify = Tables.readSpotifyCsv(spark, spotifyCsv)
    val grammys = Tables.readGrammyCsv(spark, grammyCsv)
    val mapping = genreMap(spark, genreMapCsv)
    lazy val clean = Pipelines.cleanTracks(spotify, mapping, "row_idx")
    lazy val merged = Pipelines.mergeSpotifyGrammys(clean, grammys)
    job match {
      case "clean" => Tables.writeCsv(clean, s"$outDir/spotify_clean_final")
      case "etl" => loadWarehouse(merged, outDir)
      case "drive" => Tables.writeCsv(merged, s"$outDir/merged")
    }
  }

  /** The `etl` load: stage `merged`, then write all 8 warehouse tables
    * from it in one concurrent wave. The staging directory sits
    * under `outDir`, not under the driver-local `java.io.tmpdir`, so every
    * executor of a cluster writes and reads the same copy; Spark's readers
    * skip `_`-prefixed directories, so a scan of `outDir` never sees it.
    */
  private[graft] def loadWarehouse(merged: DataFrame, outDir: String): Unit = {
    val staging = new Path(outDir, "_staging")
    val fs = staging.getFileSystem(merged.sparkSession.sparkContext.hadoopConfiguration)
    try {
      val staged = Tables.stage(merged, new Path(staging, "merged").toString)
      writeWave(outDir, Pipelines.buildWarehouse(staged))
    } finally fs.delete(staging, true)
  }

  /** Writes every table as parquet to `outDir/<name>` concurrently, on a
    * pool made for this call. Pool threads are created by the calling
    * thread, so they inherit its Spark local properties (job group,
    * scheduler pool). A failed write does not cancel the others: the wave
    * always runs to its end, so no write outlives the call, and then the
    * first failure in `tables` order is rethrown with the later ones
    * suppressed.
    */
  private[graft] def writeWave(outDir: String,
                               tables: Map[String, DataFrame]): Unit = {
    val pool = Executors.newFixedThreadPool(tables.size)
    try {
      val pending = tables.toSeq.map { case (name, df) =>
        pool.submit((() => Tables.writeParquet(df, s"$outDir/$name")): Callable[Unit])
      }
      val failures = pending.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }
}
