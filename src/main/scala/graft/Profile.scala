package graft

import java.lang.management.ManagementFactory

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Measurement harness for optimization work (guide §1/§7): runs named
  * registered queries to the noop sink with a stage listener attached and
  * prints, per stage, the wall span, task count, task-time distribution and
  * shuffle bytes — the Stage-page view of the (disabled) UI, as text —
  * and, for the first and the measured pass, the JVM's first-touch
  * counters: Janino classes compiled and their compile time, HotSpot JIT
  * time (summed over compiler threads) and process CPU (all threads). A first pass whose CPU dwarfs its compile and
  * JIT time is paying a one-off initialization elsewhere (a class's
  * static initializer, say). Not part of the driver contract; purely a
  * diagnosis tool.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.Profile <sfDir> <query> [query...]"
  */
object Profile {

  private case class StageRow(id: Int, name: String, tasks: Int,
                              wallMs: Long, taskTimeMs: Long, maxTaskMs: Long,
                              shufReadMB: Double, shufWriteMB: Double,
                              inputMB: Double, spillMB: Double,
                              outRows: Long)

  /** Cumulative first-touch counters of this JVM. */
  private case class Counters(janinoClasses: Long, compileMs: Double,
                              jitMs: Long, cpuMs: Double) {
    def -(o: Counters): Counters = Counters(janinoClasses - o.janinoClasses,
      compileMs - o.compileMs, jitMs - o.jitMs, cpuMs - o.cpuMs)
    override def toString: String = f"janino_classes=$janinoClasses " +
      f"compile_ms=$compileMs%.0f jit_ms=$jitMs cpu_ms=$cpuMs%.0f"
  }

  private def counters(): Counters = Counters(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime / 1e6, // ns; the histogram keeps whole ms
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e6)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq.filter(SparkEntry.queries.contains)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-profile")
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(-1L)
        stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
          si.numTasks, wall, m.executorRunTime, -1L,
          m.shuffleReadMetrics.totalBytesRead / 1048576.0,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0,
          m.inputMetrics.bytesRead / 1048576.0,
          m.diskBytesSpilled / 1048576.0,
          m.outputMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      // untimed warm pass (codegen/JIT/page cache), then the measured pass
      val c0 = counters()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val c1 = counters()
      stages.clear()
      spark.sparkContext.setJobDescription(s"profile: $name")
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val c2 = counters()
      Thread.sleep(500) // let the listener bus drain
      println(f"%n=== $name: ${wall}%.2f s, ${stages.size} stages ===")
      println(s"first pass:    ${c1 - c0}")
      println(s"measured pass: ${c2 - c1}")
      println(f"${"stage"}%6s ${"tasks"}%5s ${"wall_ms"}%8s ${"task_ms"}%8s " +
        f"${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"in_MB"}%7s ${"spill"}%6s ${"name"}")
      stages.sortBy(-_.wallMs).take(30).foreach { r =>
        println(f"${r.id}%6d ${r.tasks}%5d ${r.wallMs}%8d ${r.taskTimeMs}%8d " +
          f"${r.shufReadMB}%9.1f ${r.shufWriteMB}%9.1f ${r.inputMB}%7.1f " +
          f"${r.spillMB}%6.1f ${r.name.take(60)}")
      }
      val totWall = stages.map(_.wallMs).sum
      val totTask = stages.map(_.taskTimeMs).sum
      println(f"sum stage wall=${totWall / 1000.0}%.2f s  " +
        f"sum task time=${totTask / 1000.0}%.2f s  query wall=$wall%.2f s")
    }
    spark.stop()
  }
}
