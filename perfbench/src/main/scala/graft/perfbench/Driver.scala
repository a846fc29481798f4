package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{Engine, PipelineSpec}

/**
 * One benchmark run in one JVM, driven by the manifest `gen.py` wrote:
 *
 *  1. set-up: Spark session, a warm-up pipeline on its own seed and
 *     paths, then the measured pipeline registered on an empty input
 *     directory (registration bootstraps an admission gate);
 *  2. drain (closed loop): the staged backlog, `drain_cycles` cycles of
 *     `backlog_waves` waves, is published one cycle at a time, each
 *     released at once and timed until its last commit;
 *  3. paced (open loop): one generator thread publishes the remaining
 *     waves on a fixed schedule and never waits for the engine; on a
 *     logtable sink a reader thread issues reads on its own schedule.
 *
 * Waves are published only with `Tables.stageCopy`. Which trigger held a
 * wave and when that trigger committed are read afterwards from the
 * checkpoint (the file source's batch log and the commit log's mtimes),
 * so the untraced run carries no listener at all. With `trace` set, the
 * same run records spans through [[Trace]], adds an untraced drain
 * before and after the traced one, replays the waves layer by layer
 * ([[Replay]]) and re-drains at one core.
 *
 * Raw timestamps go to `result.json`; `run.py` turns them into metrics.
 */
object Driver {

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val m = mapper.readTree(Files.readString(Paths.get(args(0))))
    val out = Paths.get(args(1))
    val cores = m.get("cores").asInt
    val trace = m.get("trace").asBoolean
    val res = mapper.createObjectNode()
    res.put("cores", cores)
    res.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    res.put("jvm_start_ms",
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val localDir = m.get("spark_local_dir").asText
    val spark = session(cores, localDir)
    val tracer = if (trace) Some(Trace.attach(spark, cores)) else None
    try {
      val traced = run(spark, m, res, tracer)
      tracer.foreach { tr =>
        tr.detach()
        tr.writeSpans(out.resolveSibling("spans.jsonl"), traced)
        // the single-threaded baseline: the same drain on a fresh
        // one-core session (set-up outside the timing, as above)
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        val one = session(1, localDir)
        try {
          val measured = m.get("measured")
          val p = register(one, measured.get("root").asText + "/onecore",
            rootedSpec(measured, "onecore"))
          val perCycle = m.get("backlog_waves").asInt
          val d = drainCycles(p, waveFiles(measured).take(perCycle), perCycle)
          p.stop()
          res.set[JsonNode]("drain_1core", d)
        } finally one.stop()
      }
    } finally if (!spark.sparkContext.isStopped) spark.stop()
    Files.writeString(out, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(res))
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A registered pipeline plus the paths the run needs. */
  final case class Pipe(engine: Engine, spec: PipelineSpec, query: StreamingQuery,
                        root: String) {
    def in: Path = Paths.get(spec.source.path)
    def checkpoint: Path = Paths.get(root, "engine", "checkpoints", spec.name)
    def stop(): Unit = engine.delete(spec.name)
  }

  def register(spark: SparkSession, root: String, specJson: String): Pipe = {
    val spec = PipelineSpec.fromJson(specJson)
    Files.createDirectories(Paths.get(spec.source.path))
    val engine = new Engine(spark, s"$root/engine")
    val q = engine.register(spec)
    // the first (empty) trigger initializes the source before any timing
    q.processAllAvailable()
    Pipe(engine, spec, q, root)
  }

  private def waveFiles(n: JsonNode): IndexedSeq[(Path, Long)] =
    n.get("waves").elements().asScala.map(w =>
      (Paths.get(w.get("path").asText), w.get("records").asLong)).toIndexedSeq

  /** Publish one wave into the pipeline's input directory. */
  def publish(p: Pipe, src: Path, name: String): Unit =
    graft.Tables.stageCopy(src, p.in.resolve(name), System.currentTimeMillis())

  /** Runs set-up, drain and paced phases; returns, for the span file,
   * the waves each (query, micro-batch) held. */
  private def run(spark: SparkSession, m: JsonNode, res: ObjectNode,
                  tracer: Option[Trace]): Map[(String, Long), String] = {
    val seconds = m.get("seconds").asDouble
    val measured = m.get("measured")
    val waves = waveFiles(measured)
    val perCycle = m.get("backlog_waves").asInt
    val cycles = m.get("drain_cycles").asInt
    val nBacklog = perCycle * cycles
    val backlog = waves.take(nBacklog)
    val paced = waves.drop(nBacklog)

    // ---- set-up: warm-up on its own seed and paths, then registration --
    res.put("session_ms", System.currentTimeMillis())
    tracer.foreach(_.phase("warmup"))
    warmUp(spark, m.get("warmup"))
    res.put("warmup_end_ms", System.currentTimeMillis())
    // the traced run drains the same backlog three times: untraced (the
    // overhead baseline) on pipelines of their own before the measured
    // pipeline starts and after it stops, so that every drain runs with
    // no other query polling beside it and drift in the JVM's speed
    // cancels; in a traced run set-up therefore holds the first one
    def untracedDrain(sub: String): Pipe = {
      val up = register(spark, measured.get("root").asText + "/" + sub,
        rootedSpec(measured, sub))
      gcPoint(res)
      tracer.foreach(_.pause())
      res.set[JsonNode]("drain_" + sub, drainCycles(up, backlog, perCycle))
      up.stop()
      tracer.foreach(_.resume())
      up
    }
    val untraced1 = tracer.map { tr =>
      tr.phase("untraced")
      untracedDrain("untraced")
    }
    tracer.foreach(_.phase("setup"))
    val pipe = register(spark, measured.get("root").asText, measured.get("spec").asText)
    // the replay resumes a copy of the freshly bootstrapped gate
    val gateCopy = tracer.filter(_ => pipe.spec.sink.kind == "admission").map { tr =>
      tr.watchFolds(Paths.get(pipe.spec.sink.path, "state"))
      val dst = Paths.get(pipe.root, "replay", "gate")
      copyTree(Paths.get(pipe.spec.sink.path), dst)
      dst
    }
    // set-up ends here: the heap sample below is the benchmark's own
    // work and is timed by neither set-up nor the drain
    res.put("setup_end_ms", System.currentTimeMillis())
    gcPoint(res)

    // ---- drain (closed loop) ---------------------------------------------
    tracer.foreach(_.phase("drain"))
    res.set[JsonNode]("drain", drainCycles(pipe, backlog, perCycle))
    tracer.foreach(_.phase("drain_end"))
    gcPoint(res)

    // ---- paced (open loop) -----------------------------------------------
    tracer.foreach(_.phase("paced"))
    val periodMs = m.get("period_ms").asDouble
    // the schedule: wall-clock due times (freshness compares them with
    // commit-file mtimes), lateness measured on the monotonic clock
    val t0 = System.currentTimeMillis() + 200
    val t0Ns = System.nanoTime() + 200L * 1000000L
    val tEnd = t0 + (seconds * 1000).toLong
    val pub = new ConcurrentLinkedQueue[ObjectNode]()
    val gen = thread("perfbench-generator") {
      paced.zipWithIndex.foreach { case ((src, n), i) =>
        val due = t0 + (i * periodMs).toLong
        if (due < tEnd) {
          val dueNs = t0Ns + (i * periodMs * 1e6).toLong
          sleepUntilNs(dueNs)
          val name = f"wave${nBacklog + i}%03d.parquet"
          val late = (System.nanoTime() - dueNs) / 1e6
          publish(pipe, src, name)
          val w = mapper.createObjectNode()
          w.put("file", name); w.put("records", n); w.put("due_ms", due)
          w.put("late_ms", late)
          pub.add(w)
        }
      }
    }
    val reads = new ConcurrentLinkedQueue[ObjectNode]()
    val readKeys = m.get("read_keys").elements().asScala
      .map(_.elements().asScala.map(_.asLong).toSeq).toIndexedSeq
    val reader = thread("perfbench-reader") {
      spark.sparkContext.setJobDescription("perfbench:read")
      readKeys.zipWithIndex.foreach { case (keys, j) =>
        val due = t0 + (j * periodMs).toLong
        if (due < tEnd) {
          sleepUntil(due)
          reads.add(Reads.one(spark, pipe, keys, due))
        }
      }
    }
    gen.join(); reader.join()
    // every published wave must commit; what is still open after the
    // grace period counts as failed in the check
    val published = pub.asScala.toSeq
    awaitCommitted(pipe, published.map(_.get("file").asText).toSet ++
      backlog.indices.map(i => f"wave$i%03d.parquet"), 60000L)
    tracer.foreach(_.phase("end"))
    val prog = mapper.createArrayNode()
    pipe.query.recentProgress.foreach { pr =>
      val n = mapper.createObjectNode()
      n.put("batch", pr.batchId); n.put("rows", pr.numInputRows)
      pr.durationMs.asScala.foreach { case (k, v) => n.put(k, v.longValue) }
      prog.add(n)
    }
    res.set[JsonNode]("progress", prog)
    pipe.stop()
    gcPoint(res)
    val untraced2 = tracer.map(_ => untracedDrain("untraced2"))

    val batchOf = fileBatches(pipe.checkpoint)
    val commitMs = commitTimes(pipe.checkpoint)
    val pw = mapper.createArrayNode()
    published.foreach { w =>
      batchOf.get(w.get("file").asText).foreach { b =>
        w.put("batch", b)
        commitMs.get(b).foreach(c => w.put("commit_ms", c))
      }
      pw.add(w)
    }
    res.set[JsonNode]("paced", pw)
    val ra = mapper.createArrayNode()
    reads.asScala.foreach(ra.add)
    res.set[JsonNode]("reads", ra)
    val committedWaves = mapper.createArrayNode()
    batchOf.foreach { case (f, b) =>
      if (commitMs.contains(b)) committedWaves.add(f.stripPrefix("wave")
        .stripSuffix(".parquet").toInt)
    }
    res.set[JsonNode]("committed_waves", committedWaves)
    res.put("triggers", commitMs.size)
    res.put("disk_mb", Seq(Paths.get(pipe.spec.sink.path), pipe.checkpoint)
      .map(du).sum / 1048576.0)
    if (pipe.spec.sink.kind == "logtable")
      res.put("sink_versions_max", graft.sinks.LogTable.versions(pipe.spec.sink.path)
        .maxOption.getOrElse(0))

    // the sink's final state, for the reference check in check.py
    if (pipe.spec.sink.kind == "logtable")
      graft.sinks.LogTable.read(spark, pipe.spec.sink.path, pipe.spec.sink.keys)
        .write.mode("overwrite").parquet(s"${pipe.root}/final")

    tracer.foreach { tr =>
      res.set[JsonNode]("layers", Layers.summary(spark, tr, pipe, res))
      tr.phase("replay")
      res.set[JsonNode]("replay", Replay.run(spark, tr, pipe,
        backlog.take(m.get("replay_waves").asInt).map(_._1), gateCopy))
    }
    def held(p: Pipe): Map[(String, Long), String] =
      fileBatches(p.checkpoint).toSeq.groupBy(_._2).map { case (b, fs) =>
        (p.query.id.toString, b) -> fs.map(_._1).sorted.mkString("+")
      }
    (Seq(pipe) ++ untraced1 ++ untraced2).map(held).reduce(_ ++ _)
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    } finally s.close()
  }

  /** The measured spec re-rooted under `<root>/<sub>` (input, sink and
   * engine paths), for the traced run's extra pipelines. */
  def rootedSpec(measured: JsonNode, sub: String): String = {
    val root = measured.get("root").asText
    val spec = measured.get("spec").asText
    val json = spec.replace(mapper.writeValueAsString(root).drop(1).dropRight(1),
      mapper.writeValueAsString(s"$root/$sub").drop(1).dropRight(1))
    val n = mapper.readTree(json).asInstanceOf[ObjectNode]
    n.put("name", n.get("name").asText + "_" + sub)
    // seed and benchmark corpora stay shared (read-only inputs)
    val sink = n.get("sink").asInstanceOf[ObjectNode]
    Seq("seedPath", "benchPath", "benchMediaPath").foreach { k =>
      Option(sink.get(k)).foreach(v =>
        sink.put(k, v.asText.replace(s"$root/$sub", root)))
    }
    mapper.writeValueAsString(n)
  }

  private def warmUp(spark: SparkSession, w: JsonNode): Unit = {
    val p = register(spark, w.get("root").asText, w.get("spec").asText)
    waveFiles(w).zipWithIndex.foreach { case ((src, _), i) =>
      publish(p, src, f"wave$i%03d.parquet")
    }
    p.query.processAllAvailable()
    p.stop()
    // the logtable's paced phase reads beside writes: warm the read
    // plan too, on the warm-up's own table
    if (p.spec.sink.kind == "logtable") {
      val s = p.spec.sink
      graft.sinks.LogTable.read(spark, s.path, s.keys).count()
    }
  }

  /** The closed-loop drain, one cycle of `perCycle` waves after the
   * other: one timing per cycle. */
  def drainCycles(p: Pipe, backlog: Seq[(Path, Long)], perCycle: Int): ArrayNode = {
    val a = mapper.createArrayNode()
    backlog.grouped(perCycle).zipWithIndex.foreach { case (ws, c) =>
      a.add(drain(p, ws, c * perCycle))
    }
    a
  }

  /** One drain cycle: its waves (numbered from `first`) are published at
   * once and timed from that release to the commit of the last trigger
   * holding them. */
  def drain(p: Pipe, backlog: Seq[(Path, Long)], first: Int): ObjectNode = {
    val names = backlog.indices.map(i => f"wave${first + i}%03d.parquet")
    val release = System.currentTimeMillis()
    backlog.zip(names).zipWithIndex.foreach { case (((src, _), name), i) =>
      graft.Tables.stageCopy(src, p.in.resolve(name), release + i)
    }
    p.query.processAllAvailable()
    val batchOf = fileBatches(p.checkpoint)
    val commits = commitTimes(p.checkpoint)
    val held = names.flatMap(batchOf.get)
    val d = mapper.createObjectNode()
    d.put("release_ms", release)
    d.put("last_commit_ms", held.flatMap(commits.get).maxOption
      .getOrElse(System.currentTimeMillis()))
    d.put("records", backlog.map(_._2).sum)
    d.put("triggers", held.distinct.size)
    d
  }

  private def awaitCommitted(p: Pipe, files: Set[String], graceMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + graceMs
    def done = {
      val b = fileBatches(p.checkpoint)
      val c = commitTimes(p.checkpoint)
      files.forall(f => b.get(f).exists(c.contains))
    }
    while (!done && System.currentTimeMillis() < deadline && p.query.isActive)
      Thread.sleep(20)
  }

  /** wave file name -> micro-batch id, from the file source's batch log
   * (plain and compacted entries alike). */
  def fileBatches(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map.empty
    val files = { val s = Files.list(dir); try s.iterator().asScala.toList finally s.close() }
    files.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1))
      .filter(_.startsWith("{"))
      .map(mapper.readTree)
      .map(n => Paths.get(java.net.URI.create(n.get("path").asText))
        .getFileName.toString -> n.get("batchId").asLong)
      .toMap
  }

  /** micro-batch id -> commit time, from the commit log's mtimes. */
  def commitTimes(checkpoint: Path): Map[Long, Long] = {
    val dir = checkpoint.resolve("commits")
    if (!Files.isDirectory(dir)) return Map.empty
    val s = Files.list(dir)
    try s.iterator().asScala.flatMap { f =>
      f.getFileName.toString.toLongOption
        .map(_ -> Files.getLastModifiedTime(f).toMillis)
    }.toMap finally s.close()
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Old-generation heap used right after a full collection, taken at
   * phase boundaries only (never inside a timed window). */
  private def gcPoint(res: ObjectNode): Unit = {
    def oldGen = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.toLowerCase.contains("old"))
      .map(_.getUsage.getUsed).sum / 1048576.0
    // repeated until it settles: Spark's context cleaner frees what a
    // collection found unreachable (cached blocks, broadcasts) only after
    // that collection
    val t0 = System.nanoTime()
    var used = oldGen
    var rounds = 0
    var settled = false
    while (!settled && rounds < 6) {
      System.gc(); Thread.sleep(100)
      val now = oldGen
      settled = rounds >= 1 && used - now < 1.0
      used = now
      rounds += 1
    }
    val prev = Option(res.get("heap_peak_mb")).map(_.asDouble).getOrElse(0.0)
    res.put("heap_peak_mb", math.max(prev, used))
    val spent = Option(res.get("gc_points_ms")).map(_.asDouble).getOrElse(0.0)
    res.put("gc_points_ms", spent + (System.nanoTime() - t0) / 1e6)
  }

  def sleepUntilNs(t: Long): Unit = {
    var d = t - System.nanoTime()
    while (d > 0) {
      Thread.sleep(d / 1000000L, (d % 1000000L).toInt)
      d = t - System.nanoTime()
    }
  }

  def sleepUntil(t: Long): Unit = {
    var d = t - System.currentTimeMillis()
    while (d > 0) { Thread.sleep(d); d = t - System.currentTimeMillis() }
  }

  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }
}

/** The reads a user issues beside the writes on a logtable sink: a full
 * logical read of the table plus a point lookup of a few keys. */
object Reads {

  private val mapper = new ObjectMapper()

  def one(spark: SparkSession, p: Driver.Pipe, keys: Seq[Long],
          due: Long): ObjectNode = {
    val s = p.spec.sink
    val r = mapper.createObjectNode()
    r.put("due_ms", due)
    var retries = 0
    var rows = -1L
    while (rows < 0 && retries < 5) {
      try {
        r.put("versions", graft.sinks.LogTable.versions(s.path).size)
        rows = graft.sinks.LogTable.read(spark, s.path, s.keys)
          .filter(col(s.keys.head).isin(keys: _*)).collect().length.toLong
      } catch {
        // a concurrent compaction may retire version files a read listed:
        // the client retries, and the latency keeps the retry
        case e: Exception if retries < 4 && isRetired(e) => retries += 1
      }
    }
    r.put("done_ms", System.currentTimeMillis())
    r.put("retries", retries)
    r.put("rows", rows)
    r
  }

  private def isRetired(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists(t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        Option(t.getMessage).exists(m =>
          m.contains("FileNotFound") || m.contains("does not exist") ||
            m.contains("PATH_NOT_FOUND")))
}
