package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col

import graft.etl.CidEtl
import graft.sinks.BomCsvSink
import graft.sources.CsvSources

/** In-memory span collector. A span is one call into a module's public
  * function: name (`layer.what`), start, end, parent, and the codegen
  * counters that moved while it ran. Jobs submitted inside a span carry
  * its name as a local property, so [[Probe]] can hang them below it.
  */
final class Tracer {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val stack = mutable.Stack.empty[String]
  val spans = mutable.ArrayBuffer.empty[String]

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def codegen = (CodeGenerator.compileTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot.getValues.sum)

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    val session = SparkSession.getActiveSession
    session.foreach(_.sparkContext.setLocalProperty(Probe.SpanProperty, name))
    stack.push(name)
    val (ct0, n0, src0) = codegen
    val t0 = nowMs
    try body finally {
      val t1 = nowMs
      val (ct1, n1, src1) = codegen
      stack.pop()
      SparkSession.getActiveSession.foreach(_.sparkContext.setLocalProperty(
        Probe.SpanProperty, stack.headOption.orNull))
      spans += Json.obj(Seq(
        "kind" -> "call", "name" -> name, "parent" -> parent,
        "start_ms" -> t0, "end_ms" -> t1,
        "compile_ns" -> (ct1 - ct0), "classes" -> (n1 - n0),
        "source_bytes" -> (src1 - src0)))
    }
  }
}

/** The CLI's pipeline, composed from the same public calls with a span
  * around each (see `CidEtl.runFromDatasusDir` / `runCombined` and their
  * `finish`), for the traced run. The session is built as `CidEtl.main`
  * builds it.
  *
  * Usage: TracedEtl <trace.json> <out.csv> --datasus_dir <dir>
  *        TracedEtl <trace.json> <out.csv> --datasus f --chapters f
  *          --blocks f --categories f --subcategories f
  */
object TracedEtl {

  // Private in CidEtl; the composition below must use the same join.
  private val categoryMapMethod = {
    val m = CidEtl.getClass.getDeclaredMethod("categoryMap",
      classOf[DataFrame], classOf[DataFrame], classOf[DataFrame])
    m.setAccessible(true)
    m
  }

  private def categoryMap(ch: DataFrame, bl: DataFrame, ca: DataFrame) =
    categoryMapMethod.invoke(CidEtl, ch, bl, ca).asInstanceOf[DataFrame]

  def main(args: Array[String]): Unit = {
    val Array(traceOut, out) = args.take(2)
    val opts = args.drop(2).grouped(2).map { case Array(k, v) => k.drop(2) -> v }.toMap
    val tr = new Tracer
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = tr.span("session.start") {
      SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("cid-etl")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    val runDate = LocalDate.now()

    val (structured, enriched) = opts.get("datasus_dir") match {
      case Some(dir) =>
        val (ch, bl, ca, sc) = tr.span("etl.read_hierarchy") {
          CidEtl.readDatasusOfficial(spark, dir)
        }
        tr.span("etl.compose") {
          val structured = CidEtl.buildStructured(ch, bl, ca, sc)
          val raw = structured.select(col("cid_codigo").as("codigo"), col("descricao"))
          (structured, CidEtl.prepareDatasus(raw, categoryMap(ch, bl, ca)))
        }
      case None =>
        val (ds, ch, bl, ca, sc) = tr.span("sources.read") {
          (CsvSources.readRobust(spark, opts("datasus")),
            CsvSources.readDefault(spark, opts("chapters")),
            CsvSources.readDefault(spark, opts("blocks")),
            CsvSources.readDefault(spark, opts("categories")),
            CsvSources.readDefault(spark, opts("subcategories")))
        }
        tr.span("etl.compose") {
          (CidEtl.buildStructured(ch, bl, ca, sc),
            CidEtl.prepareDatasus(ds, categoryMap(ch, bl, ca)))
        }
    }
    val consolidated = tr.span("etl.compose") {
      CidEtl.consolidate(structured, enriched, runDate).cache()
    }
    val q = tr.span("etl.quality") { CidEtl.quality(consolidated) }
    println(s"Total de códigos consolidados: ${q.total}")
    println(s"Registros sem bloco/capítulo após merge: ${q.missingHierarchy}")
    tr.span("sinks.write") { BomCsvSink.write(consolidated, out) }
    consolidated.unpersist()
    val pipelineEndMs = tr.nowMs

    // Outside the pipeline: the consolidated frame through a column-
    // consuming sink, beside the `.count()` that graft.Bench times.
    tr.span("queries.count") { consolidated.count() }
    tr.span("queries.noop") {
      consolidated.write.format("noop").mode("overwrite").save()
    }
    spark.stop() // drains the listener bus into Probe and PlanProbe

    val probe = Probe.current
    val fields = Seq(
      "jvm_start_ms" -> jvmStartMs, "app_start_ms" -> probe.appStartMs,
      "app_end_ms" -> probe.appEndMs, "pipeline_end_ms" -> pipelineEndMs,
      "cores" -> Runtime.getRuntime.availableProcessors)
    val doc = Seq(
      "\"run\":" + Json.obj(fields),
      "\"spans\":" + (tr.spans ++ probe.jobsJson).mkString("[", ",\n", "]"),
      "\"actions\":" + PlanProbe.current.actions.asScala.mkString("[", ",\n", "]"))
    Files.write(Paths.get(traceOut),
      doc.mkString("{", ",\n", "}\n").getBytes(StandardCharsets.UTF_8))
  }
}
