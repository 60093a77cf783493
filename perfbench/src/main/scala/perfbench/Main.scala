package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Command-line arguments; run.py passes every one of them. */
final case class Args(workload: String, seed: Long, trace: Boolean,
                      data: String, work: String, result: String, spans: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("trace") == "1",
      need("data"), need("work"), need("result"), need("spans"))
  }
}

/** One timed operation: wall and process CPU seconds. */
final case class Op(name: String, seconds: Double, ok: Boolean, cpuS: Double = 0.0)

/** The measured round: an etl job, an analytics pass or one stream.
  * `extra` carries facts a workload reports (counts for the output
  * check, state read-back time, ...).
  */
final case class Round(seconds: Double, ops: Seq[Op], spans: Seq[Span],
                       extra: Map[String, Any] = Map.empty)

object Round {
  /** No round: `layers` of it gives a workload's layer names at 0. */
  val empty: Round = Round(0.0, Nil, Nil)
}

/** A named metric with its unit. */
final case class Metric(value: Double, unit: String) {
  def toJson: Map[String, Any] = Map("value" -> value, "unit" -> unit)
}

/** Old-generation occupancy after a full collection, taken after the
  * round once its caches are dropped (untimed): the state the program
  * keeps between operations, read the same way on every run.
  */
object OldGen {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  def afterFullGcMb(): Double = {
    System.gc()
    pools.map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed).sum / 1048576.0
  }
}

/** Everything a workload needs: the session, the recorder, the seed and
  * the scratch directory. Sessions are built with the engine's own
  * factory (`GraftSession.local`) on every core of the host.
  */
final class Ctx(val args: Args, sf: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val rec = new Recorder
  /** With --trace 1 every session gets the recorder's listeners. */
  val traced: Boolean = args.trace
  var spark: SparkSession = _

  /** The committed corpus (TESTDATA.md layout) inputs are generated from. */
  val source: String = new File(args.data, sf).getAbsolutePath
  /** The tables the workload reads; `prepare` may point it at a copy. */
  var corpus: String = source
  def dir(name: String): String = new File(args.work, name).getAbsolutePath

  def newSession(): Unit = {
    spark = GraftSession.local(cores, s"perfbench-${args.workload}")
    if (traced) rec.attach(spark)
  }

  def stopSession(): Unit = if (spark != null) spark.stop()

  /** Drop what a previous operation cached or staged, so each timed
    * operation pays for its own materialization (untimed).
    */
  def cleanup(): Unit = if (!spark.sparkContext.isStopped) {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
  }

  /** Time one operation, as a recorder span when tracing; a throw makes
    * it a failed operation.
    */
  def attempt(name: String, group: String)(body: => Unit): (Op, Option[Span]) =
    try {
      val cpu0 = Main.processCpuS
      if (traced) {
        val (_, s) = rec.op(spark, name, group)(body)
        (Op(name, s.seconds, ok = true, Main.processCpuS - cpu0), Some(s))
      } else {
        val t0 = System.nanoTime()
        body
        (Op(name, (System.nanoTime() - t0) / 1e9, ok = true, Main.processCpuS - cpu0), None)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        (Op(name, Double.NaN, ok = false), None)
    }
}

object Stats {
  /** Linear-interpolation quantile (q in [0, 1]) of non-empty `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
  def quantileOr0(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else quantile(xs, q)
}

object Main {
  /** Set-ups after the first; `setup_s` is their median. */
  val SetupReps = 2

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val w = Workloads.byName(args.workload)
    val c = new Ctx(args, w.sf)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // Set-up: session and seeded inputs. The first one, from JVM start,
    // is reported as `setup_cold_s`; it then runs SetupReps more times in
    // the same JVM, and `setup_s` is their median.
    c.newSession()
    w.prepare(c)
    val coldS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setups = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      c.stopSession()
      deleteTree(new File(args.work, w.name))
      c.newSession()
      w.prepare(c)
      (System.nanoTime() - t0) / 1e9
    }

    // One measured round, every operation on its first execution in this
    // JVM, as when a scheduler starts the job.
    val cpu0 = processCpuS
    val round = w.round(c)
    val roundCpuS = processCpuS - cpu0
    c.cleanup()
    val heapMb = OldGen.afterFullGcMb()

    val checks = w.check(c, round)
    c.stopSession()

    val endToEnd = Map(
      "setup_s" -> Metric(Stats.median(setups), "s"),
      "round_s" -> Metric(round.seconds, "s"),
      "op_p50_s" -> Metric(Stats.medianOr0(round.ops.filter(_.ok).map(_.seconds)), "s"),
      "heap_retained_mb" -> Metric(heapMb, "MB"))
    val named = w.named(round) ++ Map("setup_cold_s" -> Metric(coldS, "s"))
    // run.py fills trace.overhead_pct in from an untraced run of the same
    // workload and seed made just before this one.
    val layers =
      if (!args.trace) Map.empty[String, Metric]
      else Workloads.allLayers ++ Common.layers(round) ++ w.layers(round) ++
        Map("trace.overhead_pct" -> Metric(0.0, "%"))
    Json.write(args.result, Map(
      "workload" -> w.name, "seed" -> args.seed, "trace" -> args.trace,
      "corpus" -> c.corpus,
      "host" -> Map(
        "nproc" -> c.cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "scratch" -> new File(args.work).getAbsolutePath,
        "java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION),
      "setup_runs_s" -> (coldS +: setups),
      "round" -> Map(
        "seconds" -> round.seconds, "cpu_s" -> roundCpuS,
        "ops" -> round.ops.map(o => Seq(o.name, o.seconds, o.ok, o.cpuS))),
      "attempted" -> round.ops.size,
      "failed_ops" -> round.ops.count(!_.ok),
      "checks" -> checks,
      "end_to_end" -> endToEnd.map { case (k, m) => k -> m.toJson },
      "named" -> named.map { case (k, m) => k -> m.toJson },
      "per_layer" -> layers.map { case (k, m) => k -> m.toJson }))
    if (args.trace) c.rec.writeJson(args.spans, Map("workload" -> w.name, "seed" -> args.seed))
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM: task, JIT, GC and driver threads. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete(); ()
  }
}
