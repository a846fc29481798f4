package graft.perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Per-layer numbers of the traced run, named `<module>.<metric>` after
 * the repository's packages. Each entry is `{value, unit, n}`; `run.py`
 * adds the ones it derives from the raw timestamps (generator lateness,
 * backlog, tracing overhead, the one-core baseline). */
object Layers {

  private val mapper = new ObjectMapper()
  import Trace.median

  def summary(spark: SparkSession, tr: Trace, p: Driver.Pipe,
              res: ObjectNode): ObjectNode = {
    val out = mapper.createObjectNode()
    def put(name: String, v: Double, unit: String, n: Int): Unit = {
      val e = mapper.createObjectNode()
      e.put("value", v); e.put("unit", unit); e.put("n", n)
      out.set[ObjectNode](name, e)
    }
    val trig = tr.triggers(p.query.id.toString)
    val steady = trig.drop(1)
    def d(t: Trace.Progress, k: String) = t.durations.getOrElse(k, 0L).toDouble
    def med(f: Trace.Progress => Double) = median(steady.map(f))
    trig.headOption.foreach(t => put("pipeline.trigger0_ms", d(t, "triggerExecution"), "ms", 1))
    put("pipeline.trigger_ms", med(d(_, "triggerExecution")), "ms", steady.size)
    put("sources.discover_ms", med(t => d(t, "latestOffset") + d(t, "getBatch")), "ms",
      steady.size)
    put("pipeline.plan_ms", med(d(_, "queryPlanning")), "ms", steady.size)
    put("pipeline.add_batch_ms", med(d(_, "addBatch")), "ms", steady.size)
    put("pipeline.commit_ms", med(t => d(t, "walCommit") + d(t, "commitOffsets")), "ms",
      steady.size)
    put("pipeline.phase_cover", median(trig.map(t =>
      Trace.TriggerPhases.map(d(t, _)).sum / math.max(1.0, d(t, "triggerExecution")))),
      "ratio", trig.size)
    put("pipeline.jobs_per_trigger", median(tr.jobsPerTrigger(p.query.id.toString).map(_.toDouble)),
      "count", trig.size)

    val drain = res.get("drain").elements().asScala.toSeq
    val lo = drain.map(_.get("release_ms").asLong).min
    val hi = drain.map(_.get("last_commit_ms").asLong).max
    val js = tr.jobsBetween(lo, hi)
    put("spark.busy_frac", js.map(_.taskMs).sum.toDouble / ((hi - lo).max(1L) * tr.cores),
      "ratio", js.size)
    put("spark.shuffle_mb", js.map(_.shuffleBytes).sum / 1048576.0, "MB", js.size)
    put("jvm.gc_ms", tr.gcDelta("drain", "drain_end").toDouble, "ms", 1)

    p.spec.sink.kind match {
      case "admission" =>
        val sink = p.spec.sink.path
        put("text.boot_s", tr.bootWall("setup",
          "^adm:boot:(seed|art|sh|bench_art|bench_posts|cpost)$".r) / 1000, "s", 1)
        put("ml.boot_s", tr.bootWall("setup", "^adm:boot:emb$".r) / 1000, "s", 1)
        put("multimodal.boot_s", tr.bootWall("setup",
          "^adm:boot:(imgfp|audfp|benchm_imgfp|benchm_audfp)$".r) / 1000, "s", 1)
        def perTrigger(name: String, re: String): Unit = {
          val xs = tr.labelWallPerTrigger(p.query.id.toString, re.r)
          put(name, median(xs), "ms", xs.size)
        }
        perTrigger("text.verdict_ms", "^adm:(verdict|admArt) ")
        perTrigger("text.append_ms", "^adm:append:(ref|art|sh|cpost) ")
        perTrigger("ml.append_ms", "^adm:append:emb ")
        perTrigger("multimodal.append_ms", "^adm:append:(imgfp|audfp) ")
        put("text.folds", tr.folds.toDouble, "count", trig.size)
        put("text.state_mb", Driver.du(Paths.get(sink, "state")) / 1048576.0, "MB", 1)
        val dlq = Paths.get(sink, "dlq")
        put("codec.dlq_records",
          if (java.nio.file.Files.isDirectory(dlq)) spark.read.parquet(dlq.toString).count()
          else 0.0, "count", 1)
      case "logtable" =>
        val versionsMax = res.get("sink_versions_max").asInt
        val batches = res.get("triggers").asInt
        put("sinks.compactions", (versionsMax - batches).max(0).toDouble, "count", batches)
        val vr = res.get("reads").elements().asScala
          .flatMap(r => Option(r.get("versions")).map(_.asDouble)).toSeq
        put("sinks.versions_read", median(vr), "count", vr.size)
      case _ =>
    }
    out
  }
}
