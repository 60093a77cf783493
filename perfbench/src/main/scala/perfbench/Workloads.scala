package perfbench

import java.io.File

import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.etl.{GenreMap, Pipelines}
import graft.functions.{NativeFunctions, TextFunctions}
import graft.jobs.EtlJobs
import graft.queries.PipelineQueries
import graft.sources.Tables
import graft.streaming.{CmsStream, EventPipeline}

/** One benchmark workload. `prepare` is its part of set-up; `round` is
  * the measured round; `check` validates its outputs, untimed; `layers`
  * turns a traced round into per-layer metrics.
  */
trait Workload {
  def name: String
  /** Corpus scale factor directory under perfbench/data. */
  def sf: String
  def prepare(c: Ctx): Unit
  def round(c: Ctx): Round
  /** Check records: `ok` is true/false when decided here, or absent when
    * run.py decides it with DuckDB (`kind` says how). `ops` is the number
    * of timed operations the check vouches for.
    */
  def check(c: Ctx, r: Round): Seq[Map[String, Any]]
  def named(r: Round): Map[String, Metric]
  /** Per-layer metrics from the traced round. */
  def layers(r: Round): Map[String, Metric]
}

object Workloads {
  val all: Seq[Workload] = Seq(EtlWarehouse, HeavyAnalytics, EventStream)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload: $n"))

  /** Every per-layer metric at 0, taken from each workload's `layers` of
    * no round: a workload reports 0 for a layer it does not exercise.
    */
  def allLayers: Map[String, Metric] =
    all.map(_.layers(Round.empty)).foldLeft(Common.layers(Round.empty))(_ ++ _)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def fileCount(dir: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(dir))
  }

  /** Spans of the round's timed operations (not the traced-only probes). */
  def opSpans(r: Round): Seq[Span] = r.spans.filterNot(_.name.startsWith("probe:"))

  /** A counter summed over the round's operations. */
  def total(r: Round, key: String): Double = opSpans(r).map(_.total(key)).sum
}

/** Layers every workload exercises: query planning and execution (from
  * the QueryExecutionListener) and the engine's task, GC and JIT
  * counters, over the round.
  */
object Common {
  private val engine = Seq(
    "task_cpu_s" -> "s", "gc_s" -> "s", "jit_compile_s" -> "s",
    "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "tasks" -> "count")
  private val phases = Seq("analysis_s", "optimization_s", "planning_s")

  def layers(r: Round): Map[String, Metric] = {
    val executions = Workloads.opSpans(r).flatMap(_.children)
      .filter(_.name.startsWith("execution:"))
    engine.map { case (k, u) => s"engine.$k" -> Metric(Workloads.total(r, k), u) }.toMap ++
      Map(
        "queries.plan_s" -> Metric(executions.map(e => phases.map(e.total).sum).sum, "s"),
        "queries.exec_s" -> Metric(executions.map(_.seconds).sum, "s"))
  }
}

/** Operator- and function-heavy registered queries, run one at a time;
  * a pass is the list.
  */
object HeavyAnalytics extends Workload {
  val name = "heavy_analytics"
  val sf = "sf0.01"
  // One query per mechanism, two to fit the run budget: the Itemsets
  // self-join and a Graph loop with localCheckpoint staging. The native
  // gram kernels are measured by the traced-run function probes.
  val members: Seq[String] = Seq("fi_pairs", "g_pagerank")
  /** The corpus tables the members read, rewritten in seeded row order. */
  val inputs: Seq[String] = Seq("lineitem", "documents")
  /** Copies of the corpus documents a function probe processes. */
  val ProbeCopies = 64

  private def out(c: Ctx, q: String) = c.dir(s"check/$q")

  /** A copy of the corpus with the `inputs` tables rewritten in seeded row
    * order; the queries, and the oracle, read this copy.
    */
  def prepare(c: Ctx): Unit = {
    val out = c.dir(s"$name/corpus")
    new File(out).mkdirs()
    Tables.synthetic.foreach { t =>
      val src = s"${c.source}/$t.parquet"
      if (!inputs.contains(t))
        java.nio.file.Files.copy(new File(src).toPath, new File(s"$out/$t.parquet").toPath)
      else {
        val df = c.spark.read.parquet(src)
        val cols = df.columns.toSeq.map(n => col(s"`$n`"))
        df.orderBy(xxhash64(lit(c.args.seed) +: cols: _*))
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    }
    c.corpus = out
  }

  // Members run in a fixed order: every operation is timed on its first
  // execution in the JVM, where the first query absorbs the engine's own
  // cold start, so a seeded order would move each query's time with the
  // seed. The seed orders the input rows instead. An analysis job saves
  // its result, which is what the check reads.
  def round(c: Ctx): Round = {
    val done = members.map { q =>
      c.cleanup()
      c.attempt(q, s"$name-$q")(SparkEntry.queries(q)(c.spark, c.corpus)
        .coalesce(1).write.mode("overwrite").parquet(out(c, q)))
    }
    val ops = done.map(_._1)
    Round(ops.filter(_.ok).map(_.seconds).sum, ops,
      done.flatMap(_._2) ++ (if (c.traced) Seq(probe(c)) else Nil))
  }

  /** Each public text/native helper over the corpus documents into the
    * noop sink. Shingle arrays are staged first so the minhash and
    * sorted-intersect probes time only their own function.
    */
  private def probe(c: Ctx): Span = {
    val s = c.spark
    var rows = 0L
    val (_, span) = c.rec.op(s, "probe:functions", s"$name-functions") {
      val docs = Tables.load(s, c.corpus, "documents").select(col("text"))
        .crossJoin(s.range(ProbeCopies).select(col("id").as("copy")))
      rows = docs.count()
      val staged = docs.select(
        TextFunctions.sortedShingles(col("text"), 3).as("sh3"),
        TextFunctions.sortedShingles(col("text"), 2).as("sh2")).localCheckpoint()
      c.rec.child("functions.shingles")(Workloads.noop(
        docs.select(TextFunctions.sortedShingles(col("text"), 3))))
      c.rec.child("functions.minhash")(Workloads.noop(
        staged.select(TextFunctions.minhashFromShingles(col("sh3"), 64))))
      c.rec.child("functions.sorted_intersect")(Workloads.noop(
        staged.select(NativeFunctions.sortedIntersectSize(col("sh3"), col("sh2")))))
    }
    span.add("rows", rows.toDouble)
    span
  }

  /** Each query's saved result, for run.py to compare with its registered
    * oracle SQL in DuckDB; a query whose timed run failed is written now,
    * untimed.
    */
  def check(c: Ctx, r: Round): Seq[Map[String, Any]] = {
    Json.write(s"${c.dir("check")}/oracle_sql.json",
      members.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    members.map { q =>
      c.cleanup()
      val base = Map[String, Any]("name" -> q, "ops" -> r.ops.count(_.name == q))
      try {
        if (!new File(s"${out(c, q)}/_SUCCESS").exists)
          SparkEntry.queries(q)(c.spark, c.corpus).coalesce(1)
            .write.mode("overwrite").parquet(out(c, q))
        base ++ Map("kind" -> "oracle")
      } catch {
        case scala.util.control.NonFatal(e) =>
          base ++ Map("kind" -> "jvm", "ok" -> false, "detail" -> e.toString)
      }
    }
  }

  def named(r: Round): Map[String, Metric] = Map(
    "analytics_pass_s" -> Metric(r.seconds, "s"))

  def layers(r: Round): Map[String, Metric] = {
    val spans = Workloads.opSpans(r)
    val fn = r.spans.find(_.name == "probe:functions")
    def rate(n: String) = fn.flatMap(p =>
      p.children.find(_.name == s"functions.$n").map(p.counters("rows") / _.seconds))
      .getOrElse(0.0)
    members.map { q =>
      s"operators.${q}_s" -> Metric(
        r.ops.filter(o => o.ok && o.name == q).map(_.seconds).sum, "s")
    }.toMap ++ Map(
      "operators.jobs" -> Metric(spans.map(_.total("jobs")).sum / spans.size.max(1), "count"),
      "operators.cached_blocks" -> Metric(Workloads.total(r, "cached_blocks"), "count"),
      "operators.shuffle_write_bytes" -> Metric(
        Workloads.total(r, "shuffle_write_bytes"), "bytes"),
      "functions.shingles_rows_per_s" -> Metric(rate("shingles"), "rows/s"),
      "functions.minhash_rows_per_s" -> Metric(rate("minhash"), "rows/s"),
      "functions.sorted_intersect_rows_per_s" -> Metric(rate("sorted_intersect"), "rows/s"))
  }
}

/** The reference pipeline as `EtlJobs` mode `etl` runs it: Spotify and
  * Grammy CSVs → clean → merge → 8 warehouse tables written as parquet.
  */
object EtlWarehouse extends Workload {
  val name = "etl_warehouse"
  val sf = "sf0.001"
  val outputs: Seq[String] = Seq("Dim_Album", "Dim_Artist", "Dim_Category",
    "Dim_Event", "Dim_Genre", "Dim_Song", "Fact_Grammy_Awards",
    "Fact_Spotify_Tracks")
  private var inputRows = 0L

  private def spotifyCsv(c: Ctx) = c.dir(s"$name/input/spotify")
  private def grammyCsv(c: Ctx) = c.dir(s"$name/input/grammy")
  private def out(c: Ctx) = c.dir(s"$name/out")

  /** Reference-shaped CSVs derived from the corpus, cast to the pinned
    * source schemas and written in seeded row order.
    */
  def prepare(c: Ctx): Unit = {
    val s = c.spark
    val renamed = Map("Unnamed: 0" -> "row_idx", "key" -> "track_key")
    val spotify = PipelineQueries.spotifyLike(s, c.corpus).select(
      Tables.spotifySchema.fields.toSeq.map { f =>
        col(renamed.getOrElse(f.name, f.name)).cast(f.dataType).as(f.name)
      }: _*)
    val grammy = PipelineQueries.grammyLike(s, c.corpus).select(
      Tables.grammySchema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    inputRows = writeCsv(c, spotify, spotifyCsv(c)) + writeCsv(c, grammy, grammyCsv(c))
  }

  /** One CSV file, rows ordered by a seeded hash (ties by every column). */
  private def writeCsv(c: Ctx, df: DataFrame, path: String): Long = {
    val staged = df.localCheckpoint()
    val cols = staged.columns.toSeq.map(n => col(s"`$n`"))
    staged.orderBy((xxhash64(lit(c.args.seed) +: cols: _*) +: cols): _*)
      .coalesce(1).write.mode("overwrite")
      .option("header", "true").option("escape", "\"").csv(path)
    staged.count()
  }

  private def job(c: Ctx): Unit =
    EtlJobs.main(Array("etl", spotifyCsv(c), grammyCsv(c), out(c)))

  def round(c: Ctx): Round = {
    Main.deleteTree(new File(out(c)))
    val (op, span) = c.attempt("etl_job", name)(job(c))
    // EtlJobs.main stops the session it ran on; rebuild it, untimed.
    c.newSession()
    val counts =
      if (!op.ok) Map.empty[String, Long]
      else outputs.map(t => t -> c.spark.read.parquet(s"${out(c)}/$t").count()).toMap
    Round(op.seconds, Seq(op),
      span.toSeq ++ (if (c.traced && op.ok) Seq(probe(c)) else Nil),
      Map("counts" -> counts))
  }

  /** Traced runs only: each layer of the job on its own — the clean
    * output staged, the merge over that staged output into the noop
    * sink, and a scan-and-rewrite of the 8 written tables for the parquet
    * write path.
    */
  private def probe(c: Ctx): Span = {
    val s = c.spark
    c.rec.op(s, "probe:etl", s"$name-probe") {
      val clean = c.rec.child("etl.clean")(Pipelines.cleanTracks(
        Tables.readSpotifyCsv(s, spotifyCsv(c)), GenreMap.df(s), "row_idx")
        .localCheckpoint())
      c.rec.child("etl.merge")(Workloads.noop(
        Pipelines.mergeSpotifyGrammys(clean, Tables.readGrammyCsv(s, grammyCsv(c)))))
      c.rec.child("sources.write")(outputs.foreach { t =>
        Tables.writeParquet(s.read.parquet(s"${out(c)}/$t"), c.dir(s"$name/rewrite/$t"))
      })
    }._2
  }

  /** The job's table row counts, compared by run.py with the DuckDB
    * oracle of `pipeline_warehouse_counts`.
    */
  def check(c: Ctx, r: Round): Seq[Map[String, Any]] = {
    val q = "pipeline_warehouse_counts"
    Json.write(s"${c.dir("check")}/oracle_sql.json", Map(q -> SparkEntry.oracleSql(q)))
    Seq(Map("name" -> "etl_job", "kind" -> "warehouse_counts", "ops" -> 1,
      "counts" -> r.extra("counts")))
  }

  def named(r: Round): Map[String, Metric] = Map("etl_s" -> Metric(r.seconds, "s"))

  def layers(r: Round): Map[String, Metric] = {
    val writes = Workloads.opSpans(r).flatMap(_.children)
      .filter(_.name.startsWith("execution:write:"))
    def probe(n: String): Double = r.spans.find(_.name == "probe:etl")
      .flatMap(_.children.find(_.name == n)).map(_.seconds).getOrElse(0.0)
    outputs.map { t =>
      s"etl.warehouse.${t}_s" -> Metric(
        writes.filter(_.name == s"execution:write:$t").map(_.seconds).sum, "s")
    }.toMap ++ Map(
      "sources.input_rescan_ratio" -> Metric(
        Workloads.total(r, "records_read") / inputRows.max(1L), "ratio"),
      "sources.write_s" -> Metric(probe("sources.write"), "s"),
      "sources.bytes_written" -> Metric(Workloads.total(r, "bytes_written"), "bytes"),
      "sources.files_written" -> Metric(Workloads.total(r, "files_written"), "count"),
      "etl.clean_s" -> Metric(probe("etl.clean"), "s"),
      "etl.merge_s" -> Metric(probe("etl.merge"), "s"),
      "etl.warehouse_s" -> Metric(writes.map(_.seconds).sum, "s"),
      "etl.jobs" -> Metric(Workloads.total(r, "jobs"), "count"))
  }
}

/** Seeded event files streamed one per trigger into the count-min grid
  * writer, then the maintained grid read back.
  */
object EventStream extends Workload {
  val name = "event_stream"
  val sf = "sf0.01"
  val Files = 8
  /** Compaction cadence: the writer folds its state at batches 3 and 7. */
  val CompactEvery = 4
  private val Key = "user_id"
  private val Depth = 3
  private val Prefix = 2
  private var expected: Set[Row] = Set.empty

  private def input(c: Ctx) = c.dir(s"$name/input")
  private def state(c: Ctx) = c.dir(s"$name/state")
  private def checkpoint(c: Ctx) = c.dir(s"$name/checkpoint")

  /** The corpus events in seeded order, split into exactly `Files`
    * non-empty parquet files of equal size (±1 row).
    */
  def prepare(c: Ctx): Unit = {
    val s = c.spark
    val ev = Tables.load(s, c.corpus, "events")
    val n = ev.count()
    val w = org.apache.spark.sql.expressions.Window.orderBy(
      xxhash64(lit(c.args.seed), col("event_id")), col("event_id"))
    val ranked = ev.withColumn("_file",
      ((row_number().over(w) - 1) * Files / n).cast("int"))
    val fileCol = ev.columns.length
    val byFile = ranked.rdd.keyBy(_.getInt(fileCol))
      .partitionBy(new Partitioner {
        def numPartitions: Int = Files
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .values.map(r => Row.fromSeq(r.toSeq.init))
    s.createDataFrame(byFile, ev.schema).write.mode("overwrite").parquet(input(c))
    expected = Set.empty
  }

  /** One AvailableNow stream over every file, one file per trigger. */
  private def stream(c: Ctx): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val src = c.spark.readStream.schema(EventPipeline.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(input(c))
    val q = CmsStream.gridWriter(src, state(c), checkpoint(c), Key, Depth, Prefix,
        CompactEvery)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq
  }

  private def clearState(c: Ctx): Unit =
    Seq(state(c), checkpoint(c)).foreach(p => Main.deleteTree(new File(p)))

  /** The grid a single batch over all events produces. */
  private def oneShot(c: Ctx): Set[Row] = {
    if (expected.isEmpty) {
      val p = c.dir(s"$name/oneshot")
      Main.deleteTree(new File(p))
      CmsStream.applyBatch(Tables.load(c.spark, c.corpus, "events"), 0L, p,
        Key, Depth, Prefix)
      expected = CmsStream.currentGrid(c.spark, p).collect().toSet
    }
    expected
  }

  def round(c: Ctx): Round = {
    clearState(c)
    var progress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val (op, span) = c.attempt("stream", name) { progress = stream(c) }
    val t0 = System.nanoTime()
    val grid = if (op.ok) CmsStream.currentGrid(c.spark, state(c)).collect().toSet
               else Set.empty[Row]
    val readS = (System.nanoTime() - t0) / 1e9
    val ok = op.ok && grid == oneShot(c)
    val batches =
      if (!op.ok) Seq(op)
      else progress.map(p => Op(s"batch_${p.batchId}",
        p.durationMs.get("triggerExecution") / 1e3, ok = true))
    Round(op.seconds, batches, span.toSeq, Map(
      "grid_ok" -> ok, "state_read_s" -> readS,
      "state_files" -> Workloads.fileCount(state(c)).toDouble,
      "events" -> progress.map(_.numInputRows).sum.toDouble))
  }

  def check(c: Ctx, r: Round): Seq[Map[String, Any]] =
    Seq(Map("name" -> "stream", "kind" -> "jvm", "ok" -> r.extra("grid_ok"),
      "ops" -> r.ops.size))

  def named(r: Round): Map[String, Metric] = {
    val b = r.ops.filter(_.ok).map(_.seconds)
    Map(
      "batch_p50_s" -> Metric(Stats.medianOr0(b), "s"),
      "batch_p90_s" -> Metric(Stats.quantileOr0(b, 0.9), "s"),
      "stream_events_per_s" -> Metric(
        r.extra("events").asInstanceOf[Double] / r.seconds, "1/s"),
      "batch_samples" -> Metric(b.size, "count"))
  }

  def layers(r: Round): Map[String, Metric] = {
    val batches = Workloads.opSpans(r).flatMap(_.children)
      .filter(_.name.startsWith("micro_batch:"))
    def med(f: Span => Double) = Metric(Stats.medianOr0(batches.map(f)), "s")
    def extra(k: String) = r.extra.getOrElse(k, 0.0).asInstanceOf[Double]
    val compaction = batches.filter(_.counters("batch_id").toLong % CompactEvery == CompactEvery - 1)
    Map(
      "streaming.planning_s" -> med(_.counters.getOrElse("queryPlanning_s", 0.0)),
      "streaming.add_batch_s" -> med(_.counters.getOrElse("addBatch_s", 0.0)),
      "streaming.commit_s" -> med(b => b.counters.getOrElse("walCommit_s", 0.0) +
        b.counters.getOrElse("commitOffsets_s", 0.0)),
      "streaming.list_s" -> med(_.counters.getOrElse("latestOffset_s", 0.0)),
      "streaming.state_files" -> Metric(extra("state_files"), "count"),
      "streaming.state_read_s" -> Metric(extra("state_read_s"), "s"),
      "streaming.compaction_batch_s" -> Metric(Stats.medianOr0(
        compaction.map(_.counters.getOrElse("triggerExecution_s", 0.0))), "s"),
      "sources.files_written" -> Metric(Workloads.total(r, "files_written"), "count"),
      "sources.bytes_written" -> Metric(Workloads.total(r, "bytes_written"), "bytes"))
  }
}
