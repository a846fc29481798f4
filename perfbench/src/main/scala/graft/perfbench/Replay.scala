package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.pipeline.{AdmissionSink, Engine}
import graft.sinks.LogTable

/**
 * Layer-by-layer replay of the measured waves (traced run only). Each
 * wave goes through the same functions the engine calls per trigger —
 * `Engine.toFrame` (the converter decode), the spec's
 * `TransformSpec.toTransform` chain, then the sink: `LogTable.applyBatch`
 * / `compact` / `read`, or `AdmissionSink.splitGateDlq` (which calls
 * `documentsOf`) and the gate core's `applyBatch` on a gate opened with
 * `AdmissionSink.openGate` — with the frame persisted and counted at
 * every boundary, so each layer's span holds only that layer's work
 * (its self time). `Engine.toFrame` is `private[graft]`, which is why
 * this file sits in a `graft.*` package.
 */
object Replay {

  private val mapper = new ObjectMapper()
  private val WireFileSchema = DataType
    .fromDDL("key STRING, value STRING, topic STRING, offset BIGINT")
    .asInstanceOf[StructType]

  /** `gateCopy` is the measured gate as it stood right after bootstrap
   * (copied before the drain), so the replay's verdicts repeat the
   * engine's without a second bootstrap. */
  def run(spark: SparkSession, tr: Trace, p: Driver.Pipe, waves: Seq[Path],
          gateCopy: Option[Path]): ObjectNode = {
    val spec = p.spec
    val root = Paths.get(p.root, "replay")
    val engine = new Engine(spark, root.resolve("engine").toString)
    val transforms = spec.transforms.map(_.toTransform)
    val tolerant = spec.sink.errorsTolerance == "all"
    val isLog = spec.sink.kind == "logtable"
    val logPath = root.resolve("sink").toString
    val gate = gateCopy.map { g =>
      val sink = spec.sink.copy(path = g.toString)
      val core = AdmissionSink.openGate(spark, sink)
      (sink, core, graft.text.AdmissionState.acquireWriter(s"$g/state"))
    }
    val out = mapper.createObjectNode()
    def add(k: String, v: Double): Unit =
      out.put(k, Option(out.get(k)).map(_.asDouble).getOrElse(0.0) + v)
    var rowsWritten = 0L
    def newestVersionRows(): Long = LogTable.versions(logPath).lastOption
      .map(n => spark.read.parquet(f"$logPath/v$n%08d").count()).getOrElse(0L)

    waves.zipWithIndex.foreach { case (file, i) =>
      val trace = file.getFileName.toString
      def persisted(df: DataFrame): DataFrame = { val c = df.persist(); c.count(); c }
      var raw: DataFrame = null
      tr.span(trace, "sources.read") {
        raw = persisted(spark.read.schema(WireFileSchema).parquet(file.toString))
      }
      var framed: DataFrame = null
      val dec = tr.span(trace, "codec.decode") {
        framed = persisted(engine.toFrame(raw, spec.source, tolerant))
      }
      add("codec.decode_ms", dec.ms)
      add("codec.decode_tasks", tr.jobsBetween(dec.startMs, dec.endMs + 1)
        .map(_.tasks).sum.toDouble)
      var batch: DataFrame = null
      add("smt.chain_ms", tr.span(trace, "smt.chain") {
        batch = persisted(transforms.foldLeft(framed)((df, t) => t(df)))
      }.ms)
      if (isLog) {
        add("sinks.append_ms", tr.span(trace, "sinks.append") {
          LogTable.applyBatch(logPath, batch, spec.sink.keys, Some(i.toLong))
        }.ms)
        rowsWritten += newestVersionRows()
      } else gate.foreach { case (sink, core, epoch) =>
        var clean: DataFrame = null
        add("pipeline.dlq_split_ms", tr.span(trace, "pipeline.dlq_split") {
          val (writeDlq, c) = AdmissionSink.splitGateDlq(batch, sink, i.toLong)
          writeDlq()
          clean = persisted(c)
        }.ms)
        add("gate.apply_ms", tr.span(trace, "gate.apply") {
          core.applyBatch(spark, epoch, clean, i.toLong)
        }.ms)
        clean.unpersist()
      }
      Seq(raw, framed, batch).foreach(_.unpersist())
    }
    val n = waves.size.toDouble
    Seq("codec.decode_ms", "codec.decode_tasks", "smt.chain_ms", "sinks.append_ms",
      "gate.apply_ms", "pipeline.dlq_split_ms").foreach(k =>
      Option(out.get(k)).foreach(v => out.put(k, v.asDouble / n)))
    val last = waves.last.getFileName.toString
    if (isLog) {
      // the engine compacts at 8 versions; the replay holds fewer, so it
      // folds once at the end to time the same call
      out.put("sinks.compact_ms", tr.span(last, "sinks.compact") {
        LogTable.compact(spark, logPath, spec.sink.keys)
      }.ms)
      rowsWritten += newestVersionRows()
      var finalRows = 0L
      out.put("sinks.read_ms", tr.span(last, "sinks.read") {
        finalRows = LogTable.read(spark, logPath, spec.sink.keys).count()
      }.ms)
      out.put("sinks.write_amp", rowsWritten.toDouble / math.max(1L, finalRows))
    } else gate.foreach { case (sink, _, _) =>
      out.put("gate.read_ms", tr.span(last, "gate.read") {
        spark.read.parquet(s"${sink.path}/out").filter(col("admitted")).count()
      }.ms)
    }
    out
  }
}
