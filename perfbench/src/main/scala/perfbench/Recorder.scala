package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: one operation, or one layer call inside it.
  * Listener-derived children (SQL executions, micro-batches) know only
  * their duration, so their `startNs` is 0.
  */
final class Span(val name: String, val group: String, val startNs: Long) {
  var endNs: Long = startNs
  val children = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def seconds: Double = (endNs - startNs) / 1e9
  /** Duration minus the children's durations. */
  def selfSeconds: Double = seconds - children.map(_.seconds).sum
  def add(key: String, v: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v
  /** This span's counter plus every descendant's. */
  def total(key: String): Double =
    counters.getOrElse(key, 0.0) + children.map(_.total(key)).sum

  def toJson: Any = Map(
    "name" -> name, "group" -> group, "seconds" -> seconds,
    "self_seconds" -> selfSeconds, "counters" -> counters.toMap,
    "children" -> children.map(_.toJson).toSeq)
}

/** Listener-based trace recorder. While attached to a session it records
  * one span per operation ([[op]]) and, under it, one child span per
  * layer call: each SQL execution (QueryExecutionListener, with the
  * analysis / optimization / planning phases from its tracker), each
  * micro-batch (StreamingQueryListener, with `durationMs`), and each
  * harness-side probe ([[child]]). Task, job and block counters
  * (SparkListener) accumulate on the current operation. Spans stay in
  * memory until [[writeJson]].
  */
final class Recorder {
  @volatile private var current: Span = _
  val ops = mutable.ArrayBuffer.empty[Span]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean

  private def onCurrent(f: Span => Unit): Unit = {
    val s = current
    if (s != null) s.synchronized(f(s))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      onCurrent(_.add("jobs", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = onCurrent { s =>
      s.add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("task_cpu_s", m.executorCpuTime / 1e9)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("records_read", m.inputMetrics.recordsRead.toDouble)
        s.add("bytes_written", m.outputMetrics.bytesWritten.toDouble)
        // A file-writing task writes one file.
        if (m.outputMetrics.recordsWritten > 0) s.add("files_written", 1)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid)
        onCurrent(_.add("cached_blocks", 1))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = onCurrent { s =>
      // A file write is named after its output directory.
      val target = qe.logical.collectFirst {
        case w: InsertIntoHadoopFsRelationCommand => s"write:${w.outputPath.getName}"
      }
      val c = new Span(s"execution:${target.getOrElse(funcName)}", s.group, 0L)
      c.endNs = durationNs
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        c.add(s"${p}_s", phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
      }
      s.children += c
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit =
      onCurrent(_.add("failed_executions", 1))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      onCurrent { s =>
        val p = e.progress
        val c = new Span(s"micro_batch:${p.batchId}", s.group, 0L)
        c.endNs = p.batchDuration * 1000000L
        p.durationMs.asScala.foreach { case (k, v) => c.add(s"${k}_s", v / 1e3) }
        c.add("batch_id", p.batchId.toDouble)
        c.add("input_rows", p.numInputRows.toDouble)
        s.children += c
      }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  private def gcSeconds: Double =
    gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  private def jitSeconds: Double = jit.getTotalCompilationTime / 1e3

  /** Runs `body` as one traced operation under job group `group`. The
    * span's interval is the body alone; draining the listener bus
    * afterwards is untimed.
    */
  def op[T](spark: SparkSession, name: String, group: String)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    val s = new Span(name, group, System.nanoTime())
    val (gc0, jit0) = (gcSeconds, jitSeconds)
    current = s
    sc.setJobGroup(group, name)
    val out = try body finally {
      s.endNs = System.nanoTime()
      s.add("gc_s", gcSeconds - gc0)
      s.add("jit_compile_s", jitSeconds - jit0)
      // The body may have stopped its session (EtlJobs does); a stopped
      // context has already flushed its bus.
      if (!sc.isStopped) {
        PerfbenchBus.drain(sc)
        sc.clearJobGroup()
      }
      current = null
      ops += s
    }
    (out, s)
  }

  /** A harness-side layer call inside the current operation. */
  def child[T](name: String)(body: => T): T = {
    val parent = current
    val c = new Span(name, if (parent == null) "" else parent.group, System.nanoTime())
    try body finally {
      c.endNs = System.nanoTime()
      if (parent != null) parent.synchronized(parent.children += c)
    }
  }

  def writeJson(path: String, extra: Map[String, Any]): Unit =
    Json.write(path, extra ++ Map("spans" -> ops.map(_.toJson).toSeq))
}

/** Minimal JSON encoder for the benchmark's own result files. */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${encode(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, encode(v))
  }
}
