package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._

/** Scheduler and task counters from Spark's listener bus.
  *
  * Registered through `spark.extraListeners`, so it sees every event from
  * SparkContext start on, also inside the unmodified `CidEtl` CLI. It
  * writes when the application started and ended to `spark.perfbench.out`
  * at application end; in a traced run (`spark.perfbench.trace=true`) it
  * also keeps one record per job, which [[TracedEtl]] writes out with its
  * spans.
  */
class Probe(conf: SparkConf) extends SparkListener {
  import Probe._

  private val traced = conf.getBoolean("spark.perfbench.trace", false)
  private val out = conf.getOption("spark.perfbench.out")
  @volatile var appStartMs = 0L
  @volatile var appEndMs = 0L
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Job]()
  Probe.current = this

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    appStartMs = e.time

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    appEndMs = e.time
    out.foreach { p =>
      Files.write(Paths.get(p), Json.obj(Seq(
        "app_start_ms" -> appStartMs, "app_end_ms" -> appEndMs))
        .getBytes(StandardCharsets.UTF_8))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val props = Option(e.properties)
    val j = new Job(e.jobId, e.time,
      props.flatMap(p => Option(p.getProperty(SpanProperty))).getOrElse(""),
      // The result stage's name is the job's call site, e.g.
      // "csv at CsvSources.scala:98".
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name,
      e.stageIds.size)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageToJob.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced)
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
    val j = stageToJob.get(e.stageId)
    if (j != null) j.synchronized {
      val i = e.taskInfo
      j.taskIntervals += ((i.launchTime, i.finishTime))
      if (!i.successful) j.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        j.c("task_run_ms") += m.executorRunTime
        j.c("task_cpu_ns") += m.executorCpuTime
        j.c("gc_ms") += m.jvmGCTime
        j.c("input_bytes") += m.inputMetrics.bytesRead
        j.c("input_rows") += m.inputMetrics.recordsRead
        j.c("output_bytes") += m.outputMetrics.bytesWritten
        j.c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        j.c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        j.c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        j.c("peak_mem_bytes") = math.max(j.c("peak_mem_bytes"), m.peakExecutionMemory)
      }
    }
  }

  /** Every traced job as JSON span records. */
  def jobsJson: Seq[String] = jobs.values.asScala.toSeq.sortBy(_.id).map(_.json)
}

object Probe {
  /** Local property naming the [[Tracer]] span a job was submitted in. */
  val SpanProperty = "perfbench.span"

  @volatile var current: Probe = _

  final class Job(val id: Int, val startMs: Long, val span: String,
                  val callSite: String, val stages: Int) {
    @volatile var endMs = 0L
    var tasksFailed = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val c = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)

    /** Job wall time during which none of its tasks was running. */
    def floorMs: Long = {
      var covered = 0L
      var reach = startMs
      taskIntervals.sortBy(_._1).foreach { case (s0, e0) =>
        val s = math.max(s0, reach)
        val e = math.min(e0, endMs)
        if (e > s) { covered += e - s; reach = e }
      }
      math.max(0L, endMs - startMs - covered)
    }

    def json: String = synchronized {
      Json.obj(Seq(
        "kind" -> "job", "name" -> callSite, "parent" -> span,
        "start_ms" -> startMs, "end_ms" -> endMs, "stages" -> stages,
        "tasks" -> taskIntervals.size, "tasks_failed" -> tasksFailed,
        "floor_ms" -> floorMs) ++ c.toSeq)
    }
  }
}

/** Just enough JSON for flat records of numbers and strings. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  def obj(fields: Seq[(String, Any)]): String = fields.map { case (k, v) =>
    str(k) + ":" + (v match {
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case x => x.toString
    })
  }.mkString("{", ",", "}")
}
