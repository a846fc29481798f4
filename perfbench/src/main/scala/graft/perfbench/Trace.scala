package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * The traced run's recorder. Everything is observed from outside the
 * engine: a `SparkListener` records one entry per Spark job (its
 * description label, wall, task time, shuffle bytes) and
 * a `StreamingQueryListener` one entry per trigger (Structured
 * Streaming's own phase durations). Spans are built from those entries
 * and from the replay's explicit spans, kept in memory, and written to
 * `spans.jsonl` when the run ends.
 */
final class Trace private (spark: SparkSession, val cores: Int) {
  import Trace._

  private val mapper = new ObjectMapper()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val phases = new ConcurrentLinkedQueue[(String, Long)]()
  private val replaySpans = new ConcurrentLinkedQueue[Span]()
  @volatile private var foldWatch: Option[(Path, mutable.Set[String])] = None
  private var gcAtPhase = Map.empty[String, Long]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L,
        prop("spark.job.description").getOrElse("")))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      // maintenance folds are unlabelled: count the fold dirs they publish
      foldWatch.foreach { case (dir, seen) =>
        if (Files.isDirectory(dir)) {
          val s = Files.list(dir)
          try s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("fold=")).foreach(f => seen.synchronized(seen += f))
          finally s.close()
        }
      }
    }
  }

  private def attachListeners(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(queryListener)
  }

  /** Tracing off (the overhead baseline's drain runs with no listener). */
  def pause(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(queryListener)
  }
  def resume(): Unit = attachListeners()
  def detach(): Unit = pause()

  def phase(name: String): Unit = {
    phases.add(name -> System.currentTimeMillis())
    gcAtPhase += name -> gcMs()
  }

  def watchFolds(stateDir: Path): Unit =
    foldWatch = Some(stateDir -> mutable.Set.empty[String])

  /** A replay span: one layer call on one wave. */
  def span(trace: String, name: String)(body: => Unit): Span = {
    val s = new Span(trace, name, System.nanoTime(), System.currentTimeMillis())
    body
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    replaySpans.add(s)
    s
  }

  private def phaseStart(name: String): Option[Long] =
    phases.asScala.find(_._1 == name).map(_._2)
  private def phaseEnd(name: String): Option[Long] = {
    val ps = phases.asScala.toSeq
    ps.indexWhere(_._1 == name) match {
      case -1 => None
      case i => ps.lift(i + 1).map(_._2)
    }
  }

  /** Jobs started inside a phase window. */
  def jobsIn(phase: String): Seq[Job] = {
    val lo = phaseStart(phase).getOrElse(Long.MaxValue)
    val hi = phaseEnd(phase).getOrElse(Long.MaxValue)
    jobs.values().asScala.toSeq.filter(j => j.start >= lo && j.start < hi)
  }

  def jobsBetween(lo: Long, hi: Long): Seq[Job] =
    jobs.values().asScala.toSeq.filter(j => j.start >= lo && j.start < hi && j.end > 0)

  def gcDelta(from: String, to: String): Long =
    gcAtPhase.getOrElse(to, gcMs()) - gcAtPhase.getOrElse(from, 0L)

  /** Trigger-level numbers for the measured query, from its progress. */
  def triggers(query: String): Seq[Progress] =
    progress.asScala.toSeq.filter(p => p.query == query && p.rows > 0)
      .sortBy(_.batch)

  def folds: Int = foldWatch.map(_._2.size).getOrElse(0)

  /** The jobs a trigger ran: those started inside its wall window. The
   * engine's write pool reuses threads, so a job's inherited batch-id
   * property can be stale; the window cannot. The benchmark's own reads
   * carry a `perfbench:` label and are left out. */
  def jobsOf(t: Progress): Seq[Job] = {
    val end = t.start + t.durations.getOrElse("triggerExecution", 0L)
    jobs.values().asScala.toSeq.filter(j => j.start >= t.start && j.start <= end &&
      !j.desc.startsWith("perfbench:"))
  }

  /** Per-trigger wall covered by the jobs whose label matches `re`
   * (union of intervals, so concurrent appends are not double counted). */
  def labelWallPerTrigger(query: String, re: scala.util.matching.Regex): Seq[Double] =
    triggers(query).map(t => unionMs(jobsOf(t)
      .filter(j => j.end > 0 && re.findFirstIn(j.desc).nonEmpty).map(j => (j.start, j.end))))

  def jobsPerTrigger(query: String): Seq[Int] = triggers(query).map(jobsOf(_).size)

  def bootWall(phase: String, re: scala.util.matching.Regex): Double =
    unionMs(jobsIn(phase).filter(j => re.findFirstIn(j.desc).nonEmpty && j.end > 0)
      .map(j => (j.start, j.end)))

  /** The spans file: one JSON object per line. Trigger spans and their
   * phase children come from the query progress, job spans hang under
   * the trigger whose window they started in; replay spans are roots.
   * The trace id is the wave (or waves) a trigger or replay call held. */
  def writeSpans(out: Path, waveOfBatch: Map[(String, Long), String]): Unit = {
    val lines = new java.util.ArrayList[String]()
    var id = 0
    def emit(trace: String, name: String, parent: Option[Int], start: Double,
             end: Double, attrs: (String, Any)*): Int = {
      id += 1
      val n = mapper.createObjectNode()
      n.put("trace", trace); n.put("span", id)
      parent.foreach(p => n.put("parent", p))
      n.put("name", name); n.put("start_ms", start); n.put("end_ms", end)
      attrs.foreach {
        case (k, v: Long) => n.put(k, v)
        case (k, v: Int) => n.put(k, v)
        case (k, v) => n.put(k, v.toString)
      }
      lines.add(mapper.writeValueAsString(n))
      id
    }
    progress.asScala.toSeq.sortBy(p => (p.query, p.batch)).foreach { p =>
      val trace = waveOfBatch.getOrElse((p.query, p.batch), s"${p.query}/b${p.batch}")
      val total = p.durations.getOrElse("triggerExecution", 0L)
      val tid = emit(trace, "trigger", None, p.start.toDouble, (p.start + total).toDouble,
        "query" -> p.query, "batch" -> p.batch, "rows" -> p.rows)
      var t = p.start.toDouble
      TriggerPhases.foreach { ph =>
        p.durations.get(ph).foreach { d =>
          emit(trace, ph, Some(tid), t, t + d)
          t += d
        }
      }
      jobsOf(p).sortBy(_.start).foreach { j =>
        emit(trace, "job", Some(tid), j.start.toDouble, j.end.toDouble,
          "label" -> j.desc, "tasks" -> j.tasks, "task_ms" -> j.taskMs)
      }
    }
    val t0ns = System.nanoTime() - System.currentTimeMillis() * 1000000L
    replaySpans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      emit(s.trace, s.name, None, (s.startNs - t0ns) / 1e6, (s.endNs - t0ns) / 1e6,
        "source" -> "replay")
    }
    Files.write(out, lines)
  }
}

object Trace {

  /** Structured Streaming's per-trigger phases, in execution order. */
  val TriggerPhases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
      "commitOffsets")

  final case class Job(id: Int, start: Long, var end: Long, desc: String) {
    var tasks = 0
    var taskMs = 0L
    var shuffleBytes = 0L
  }

  final case class Progress(query: String, batch: Long, start: Long,
                            rows: Long, durations: Map[String, Long])

  final class Span(val trace: String, val name: String, val startNs: Long,
                   val startMs: Long) {
    var endNs = 0L
    var endMs = 0L
    def ms: Double = (endNs - startNs) / 1e6
  }

  def attach(spark: SparkSession, cores: Int): Trace = {
    val t = new Trace(spark, cores)
    t.attachListeners()
    t
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Length of the union of [start, end) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
