package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory event buffer for the traced run. Events are JSON lines with
  * an epoch-microsecond `t`, so the load generator can attribute them to
  * its own request windows. Written out once, when the JVM ends (or when a
  * replay asks), to the path in the `perfbench.trace.out` system property. */
object TraceBuffer {
  private val events = new ConcurrentLinkedQueue[String]()
  private val out = Option(System.getProperty("perfbench.trace.out"))

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def str(s: String): String = "\"" + Option(s).getOrElse("").flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  def add(kind: String, fields: (String, Any)*): Unit = {
    val body = (("kind" -> kind) +: fields).map {
      case (k, v: String) => s"${str(k)}:${str(v)}"
      case (k, v) => s"${str(k)}:$v"
    }.mkString("{", ",", "}")
    events.add(body)
  }

  /** Cumulative codegen and GC counters, sampled at each event boundary. */
  def counters(): Seq[(String, Any)] = Seq(
    "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "compile_ns" -> CodeGenerator.compileTime,
    "gc_ms" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum)

  def flush(): Unit = synchronized {
    out.foreach { p =>
      val sb = new StringBuilder
      var e = events.poll()
      while (e != null) { sb.append(e).append('\n'); e = events.poll() }
      Files.write(Paths.get(p), sb.toString.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() => flush()))
}

/** Scheduler and task telemetry, attached through `spark.extraListeners`. */
class TraceListener extends SparkListener {
  import TraceBuffer.add

  private def us(epochMs: Long): Long = epochMs * 1000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    add("job_start", Seq("t" -> us(e.time), "job" -> e.jobId,
      "stages" -> e.stageIds.size, "group" -> Option(group).getOrElse("")) ++
      TraceBuffer.counters(): _*)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    add("job_end", Seq("t" -> us(e.time), "job" -> e.jobId,
      "ok" -> (e.jobResult == JobSucceeded)) ++ TraceBuffer.counters(): _*)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    add("stage", "t" -> us(si.completionTime.getOrElse(System.currentTimeMillis)),
      "stage" -> si.stageId, "tasks" -> si.numTasks,
      "submit_us" -> us(si.submissionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val m = e.taskMetrics
    if (m != null) add("task", "t" -> us(ti.finishTime), "stage" -> e.stageId,
      "launch_us" -> us(ti.launchTime),
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "shuffle_w" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_r" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

/** Catalyst phase telemetry, attached through
  * `spark.sql.queryExecutionListeners`. */
class TraceQeListener extends QueryExecutionListener {
  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def p(n: String): Long = ph.get(n).map(_.durationMs).getOrElse(0L)
    TraceBuffer.add("qe", Seq("t" -> TraceBuffer.nowUs, "ok" -> ok,
      "analysis_ms" -> p("analysis"), "optimization_ms" -> p("optimization"),
      "planning_ms" -> p("planning")) ++ TraceBuffer.counters(): _*)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, ok = false)
}
