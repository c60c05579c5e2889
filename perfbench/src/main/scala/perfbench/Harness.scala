package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.ops.{Memos, Reuse}

/** One query run, as marks on the harness clock (`System.nanoTime`):
  * build = [start, built), noop write = [built, written),
  * leak census = [written, censused), release = [censused, end).
  */
final case class Run(name: String, startNs: Long, builtNs: Long,
    writtenNs: Long, censusedNs: Long, endNs: Long, error: Option[String],
    persistedRdds: Int, persistedBytes: Long, drainViews: Int, activeStreams: Int) {
  def wallS: Double = (writtenNs - startNs) / 1e9
  def leaks: Boolean = persistedRdds > 0 || drainViews > 0 || activeStreams > 0
}

/** A `count()` of a fresh build of the same query, timed beside the noop
  * write in traced runs only.
  */
final case class Audit(name: String, startNs: Long, endNs: Long, error: Option[String])

final case class Pass(index: Int, traced: Boolean, startNs: Long, endNs: Long,
    runs: Seq[Run], audits: Seq[Audit]) {
  /** Wall time of the pass without the count() audits. */
  def seconds: Double = (endNs - startNs - audits.map(a => a.endNs - a.startNs).sum) / 1e9
}

/** The benchmark's client process: one closed-loop client that runs a
  * workload's queries pass after pass against graft's public API and
  * times the full materialization of each result (a noop-sink write).
  *
  * {{{
  * Harness --workload W --seed N --seconds S --trace 0|1
  *         --sf-dir DIR --out DIR
  * }}}
  * Writes `result.json` (and `trace.json` when traced) under `--out`,
  * plus every query's result under `--out/results` with
  * `oracle_sql.json` beside them, for the oracle gate.
  */
object Harness {

  type QueryFn = (SparkSession, String) => DataFrame

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val sfDir = opt("sf-dir")
    val out = new File(opt("out"))
    require(new File(sfDir, "events.parquet").exists, s"no test data under $sfDir")
    out.mkdirs()

    // -- set-up: session build, then one untimed warm-up pass at the
    // bench SF. It warms the exact code paths and data sizes the timed
    // passes run, and writes every result for the oracle gate.
    val t0 = System.nanoTime()
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors.toString)
    val queries = Workloads.resolve(workload, SparkEntry.queries)
    val registry: Map[String, QueryFn] = queries.toMap
    val names = queries.map(_._1)
    val sessionS = (System.nanoTime() - t0) / 1e9
    Memos.clearAll()
    val gateErrors = writeResults(spark, Workloads.order(names, seed, 0), registry,
      sfDir, new File(out, "results"))
    val setupS = (System.nanoTime() - t0) / 1e9

    // -- timed passes: whole passes until `seconds` have passed, and at
    // least three: the first timed pass still pays JIT warm-up (measured
    // 15-25% slower than later ones), and the median of three drops it.
    // A traced run makes four passes instead: untraced, traced, traced,
    // untraced, so the untraced reference for trace.overhead_frac brackets
    // the traced passes and drift between passes cancels.
    val recorder = new Recorder
    val passes = mutable.ArrayBuffer[Pass]()
    val measureStart = System.nanoTime()
    val tracedPattern = Seq(false, true, true, false)
    while (if (traced) passes.size < tracedPattern.size
           else passes.size < 3 || System.nanoTime() - measureStart < seconds * 1e9) {
      val traceThis = traced && tracedPattern(passes.size)
      if (traceThis) attach(spark, recorder)
      passes += runPass(spark, passes.size + 1, traceThis, names, registry, seed, sfDir)
      if (traceThis) { recorder.quiesce(); detach(spark, recorder) }
    }

    val timed = passes.toSeq.filterNot(p => traced && !p.traced)
    val runs = timed.flatMap(_.runs)
    val errors = mutable.LinkedHashMap[String, String]()
    runs.foreach(r => r.error.foreach(e => errors.getOrElseUpdate(r.name, e)))
    gateErrors.foreach { case (k, v) =>
      errors.getOrElseUpdate(k, s"oracle gate run: $v")
    }
    val leaking = runs.filter(_.leaks).map(_.name).distinct.sorted

    val walls = runs.filter(_.error.isEmpty).map(_.wallS)
    val tailP = Stats.tailPercentile(walls.size)
    val endToEnd: Map[String, Any] = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(timed.map(_.seconds)),
      "query_p50_s" -> (if (walls.isEmpty) 0.0 else Stats.median(walls)))
    val layers: Map[String, Any] =
      if (traced) layerMetrics(passes.toSeq, recorder, new File(out, "trace.json"), leaking)
      else Map.empty
    Files.writeString(Paths.get(out.getPath, "result.json"), Json(Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "attempted" -> (runs.size + names.size),
      "failed_runs" -> (runs.count(_.error.nonEmpty) + gateErrors.size),
      "errors" -> errors.toMap,
      "end_to_end" -> endToEnd, "per_layer" -> layers,
      "report" -> Map(
        "passes" -> timed.size, "query_samples" -> walls.size,
        "query_tail_percentile" -> tailP.getOrElse(0),
        "query_tail_s" -> tailP.map(Stats.percentile(walls, _)).getOrElse(0.0),
        "retained_mb" -> Stats.median(timed.map(_.runs.map(_.persistedBytes).sum / 1e6)),
        "session_s" -> sessionS,
        "pass_s" -> timed.map(_.seconds).toSeq,
        "query_wall_s" -> runs.groupBy(_.name).map { case (k, rs) => k -> rs.map(_.wallS) },
        "leaking_queries" -> leaking))))
    spark.stop()
  }

  /** Write each query's result as parquet under `dir` with the queries'
    * oracle SQL beside them; returns the queries that threw.
    */
  private def writeResults(spark: SparkSession, names: Seq[String],
      registry: Map[String, QueryFn], sf: String, dir: File): Map[String, String] = {
    val errors = names.flatMap { n =>
      val err =
        try {
          registry(n)(spark, sf).write.mode("overwrite")
            .parquet(new File(dir, n).getPath)
          None
        } catch { case e: Throwable => Some(n -> describe(e)) }
      Reuse.releaseAllCaches(spark)
      err
    }.toMap
    dir.mkdirs()
    Files.writeString(new File(dir, "oracle_sql.json").toPath,
      Json(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    errors
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private def attach(spark: SparkSession, r: Recorder): Unit = {
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    spark.streams.addListener(r.streams)
  }

  private def detach(spark: SparkSession, r: Recorder): Unit = {
    spark.sparkContext.removeSparkListener(r)
    spark.listenerManager.unregister(r)
    spark.streams.removeListener(r.streams)
  }

  /** Job group of one phase of one run; parsed back by [[layerMetrics]]. */
  private def group(pass: Int, name: String, phase: String): String =
    s"perfbench/$pass/$name/$phase"

  /** Build the query, time its full materialization, take the leak
    * census, then release every persisted block.
    */
  private def runQuery(spark: SparkSession, name: String, fn: QueryFn, sf: String,
      pass: Int): Run = {
    val sc = spark.sparkContext
    sc.setJobGroup(group(pass, name, "build"), name)
    val start = System.nanoTime()
    var built = start
    val error =
      try {
        val df = fn(spark, sf)
        built = System.nanoTime()
        sc.setJobGroup(group(pass, name, "write"), name)
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable =>
        if (built == start) built = System.nanoTime()
        Some(describe(e))
      }
    val written = System.nanoTime()
    sc.setJobGroup(group(pass, name, "release"), name)
    val persisted = sc.getPersistentRDDs.size
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val views = spark.catalog.listTables().collect()
      .count(t => t.isTemporary && t.name.startsWith("drain_"))
    val streams = spark.streams.active.length
    val censused = System.nanoTime()
    Reuse.releaseAllCaches(spark)
    val end = System.nanoTime()
    sc.clearJobGroup()
    Run(name, start, built, written, censused, end, error, persisted, bytes,
      views, streams)
  }

  private def runPass(spark: SparkSession, index: Int, traced: Boolean,
      names: Seq[String], registry: Map[String, QueryFn], seed: Long,
      sf: String): Pass = {
    Memos.clearAll()
    val start = System.nanoTime()
    val runs = mutable.ArrayBuffer[Run]()
    val audits = mutable.ArrayBuffer[Audit]()
    Workloads.order(names, seed, index).foreach { n =>
      runs += runQuery(spark, n, registry(n), sf, index)
      if (traced) {
        spark.sparkContext.setJobGroup(group(index, n, "audit"), n)
        val a0 = System.nanoTime()
        val err =
          try { registry(n)(spark, sf).count(); None }
          catch { case e: Throwable => Some(describe(e)) }
        val a1 = System.nanoTime()
        Reuse.releaseAllCaches(spark)
        spark.sparkContext.clearJobGroup()
        audits += Audit(n, a0, a1, err)
      }
    }
    Pass(index, traced, start, System.nanoTime(), runs.toSeq, audits.toSeq)
  }

  /** Per-layer metrics of the traced passes (median over passes of each
    * per-pass sum), and the span tree written to `traceFile`.
    */
  private def layerMetrics(passes: Seq[Pass], rec: Recorder, traceFile: File,
      leaking: Seq[String]): Map[String, Any] = {
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def ns(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs

    val spans = mutable.ArrayBuffer[Span]()
    def add(parent: Int, layer: String, name: String, s: Long, e: Long): Int = {
      spans += Span(spans.size, parent, layer, name, s, e); spans.size - 1
    }
    val planRecs = rec.planList
    val phaseIds = mutable.Map[(Int, String, String), Int]()
    val planMs = mutable.Map[(Int, String), Map[String, Long]]()
    val traced = passes.filter(_.traced)
    traced.foreach { p =>
      p.runs.foreach { r =>
        // the planning records of a run's noop write start inside the write
        val recs = planRecs.filter(x => ns(x.startMs) >= r.builtNs - 1000000L &&
          ns(x.startMs) <= r.writtenNs)
        val phases = recs.flatMap(_.phasesMs).groupMapReduce(_._1)(_._2)(_ + _)
        planMs((p.index, r.name)) = phases
        val planNs = math.min(phases.values.sum * 1000000L, r.writtenNs - r.builtNs)
        val q = add(-1, "query", r.name, r.startNs, r.endNs)
        phaseIds((p.index, r.name, "build")) = add(q, "build", r.name, r.startNs, r.builtNs)
        add(q, "plan", r.name, r.builtNs, r.builtNs + planNs)
        phaseIds((p.index, r.name, "write")) =
          add(q, "exec", r.name, r.builtNs + planNs, r.writtenNs)
        phaseIds((p.index, r.name, "release")) =
          add(q, "release", r.name, r.writtenNs, r.endNs)
      }
      p.audits.foreach { a =>
        phaseIds((p.index, a.name, "audit")) = add(-1, "audit", a.name, a.startNs, a.endNs)
      }
    }
    val phaseSpans = spans.toSeq.filter(s => s.layer != "query")
    def enclosing(t: Long): Int =
      phaseSpans.find(s => s.startNs <= t && t < s.endNs).map(_.id).getOrElse(-1)
    // micro-batches run on the stream's own thread: parent by time
    val batchSpans = rec.batchList.map { b =>
      val s = ns(b.startMs)
      val id = add(enclosing(s), "batch", b.runId, s, s + b.durMs * 1000000L)
      id -> b
    }
    val batchByRun = batchSpans.groupBy(_._2.runId)
    // a job belongs to the harness phase named by its job group; jobs of
    // a stream carry the stream's run id as their group instead
    val jobSpan = rec.jobList.sortBy(_.jobId).map { j =>
      val s = ns(j.startMs)
      val parent = j.group.split('/') match {
        case Array("perfbench", pass, name, phase) =>
          phaseIds.getOrElse((pass.toInt, name, phase), enclosing(s))
        case _ =>
          batchByRun.getOrElse(j.group, Nil).map(_._1)
            .find(id => spans(id).startNs <= s + 1000000L && s <= spans(id).endNs)
            .getOrElse(enclosing(s))
      }
      j -> add(parent, "job", s"job ${j.jobId}", s, math.max(s, ns(j.endMs)))
    }
    val all = spans.toSeq
    def root(id: Int): Span = {
      var s = all(id)
      while (s.parent >= 0) s = all(s.parent)
      s
    }
    def underLayer(id: Int, layer: String): Boolean = {
      var s = all(id)
      while (s.layer != layer && s.parent >= 0) s = all(s.parent)
      s.layer == layer
    }
    val selfNs = Trace.selfNs(all)
    // a stage's tasks run in the first job that lists it; later jobs
    // list it again as skipped
    val stageToJob = jobSpan.flatMap { case (j, id) => j.stageIds.map(st => (st, j.jobId, id)) }
      .groupBy(_._1).map { case (st, xs) => st -> xs.minBy(_._2)._3 }
    val consumers = Memos.consumerNames.toSet

    val perPass: Seq[Map[String, Double]] = traced.map { p =>
      def inPass(id: Int): Boolean = {
        val r = root(id); r.layer == "query" && r.startNs >= p.startNs && r.endNs <= p.endNs
      }
      val jobIds = jobSpan.map(_._2).filter(inPass).toSet
      val tasks = rec.taskList.filter(t => stageToJob.get(t.stageId).exists(jobIds))
      val stageIds = tasks.map(_.stageId).toSet
      val passSpans = all.filter(s => inPass(s.id))
      val batches = batchSpans.filter(x => inPass(x._1)).map(_._2)
      val lastOfStream = batches.groupBy(_.runId).values.map(_.maxBy(_.startMs)).toSeq
      val runs = p.runs
      val firstConsumer = runs.find(r => consumers(r.name)).map(_.name)
      val phases = runs.map(r => planMs((p.index, r.name)))
      def phase(k: String) = phases.map(_.getOrElse(k, 0L)).sum / 1e3
      def self(layer: String) = passSpans.filter(_.layer == layer).map(s => selfNs(s.id)).sum / 1e9
      val mb = 1e6
      Map(
        "queries.build_s" -> runs.map(r => r.builtNs - r.startNs).sum / 1e9,
        "queries.build_jobs" -> jobIds.count(id => underLayer(id, "build")).toDouble,
        "plan.analysis_s" -> phase("analysis"),
        "plan.optimization_s" -> phase("optimization"),
        "plan.planning_s" -> phase("planning"),
        "exec.wall_s" -> passSpans.filter(_.layer == "exec").map(_.durNs).sum / 1e9,
        "exec.jobs" -> jobIds.size.toDouble,
        "exec.stages" -> stageIds.size.toDouble,
        "exec.tasks" -> tasks.size.toDouble,
        "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
        "exec.shuffle_read_mb" -> tasks.map(_.shuffleReadBytes).sum / mb,
        "exec.shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / mb,
        "exec.spill_mb" -> tasks.map(_.spillBytes).sum / mb,
        "tables.input_mb" -> tasks.map(_.inputBytes).sum / mb,
        "tables.input_rows" -> tasks.map(_.inputRows).sum.toDouble,
        "reuse.persisted_rdds" -> runs.map(_.persistedRdds).sum.toDouble,
        "reuse.persisted_mb" -> runs.map(_.persistedBytes).sum / mb,
        "reuse.release_s" -> runs.map(r => r.endNs - r.censusedNs).sum / 1e9,
        "memos.first_consumer_build_s" ->
          runs.filter(r => firstConsumer.contains(r.name)).map(r => r.builtNs - r.startNs).sum / 1e9,
        "memos.later_consumer_build_s" ->
          runs.filter(r => consumers(r.name) && !firstConsumer.contains(r.name))
            .map(r => r.builtNs - r.startNs).sum / 1e9,
        "streaming.batches" -> batches.size.toDouble,
        "streaming.input_rows" -> batches.map(_.inputRows).sum.toDouble,
        "streaming.trigger_s" -> batches.map(_.durMs).sum / 1e3,
        "streaming.add_batch_s" -> batches.map(_.addBatchMs).sum / 1e3,
        "streaming.wal_commit_s" -> batches.map(_.walCommitMs).sum / 1e3,
        "streaming.state_commit_s" -> batches.map(_.stateCommitMs).sum / 1e3,
        "streaming.state_rows" -> lastOfStream.map(_.stateRows).sum.toDouble,
        "streaming.state_mb" -> lastOfStream.map(_.stateBytes).sum / mb,
        "streaming.late_rows_dropped" -> batches.map(_.lateRowsDropped).sum.toDouble,
        "sinks.output_mb" -> tasks.map(_.outputBytes).sum / mb,
        "sinks.output_rows" -> tasks.map(_.outputRows).sum.toDouble,
        "self.query_s" -> self("query"),
        "self.build_s" -> self("build"),
        "self.plan_s" -> self("plan"),
        "self.exec_s" -> self("exec"),
        "self.release_s" -> self("release"),
        "self.job_s" -> self("job"),
        "self.batch_s" -> self("batch"),
        "audit.count_s" -> p.audits.map(a => a.endNs - a.startNs).sum / 1e9,
        "trace.pass_s" -> p.seconds)
    }
    val reference = passes.filterNot(_.traced).map(_.seconds)
    val coverage = all.filter(_.layer == "query").map { q =>
      val kids = all.filter(_.parent == q.id)
      kids.map(_.durNs).sum.toDouble / math.max(1L, q.durNs)
    }
    val keys = perPass.head.keys
    val metrics: Map[String, Double] = keys.map(k => k -> Stats.median(perPass.map(_(k)))).toMap ++
      Map(
        "trace.overhead_frac" -> (Stats.median(perPass.map(_("trace.pass_s"))) /
          Stats.median(reference) - 1),
        "trace.coverage_min" -> coverage.min)

    val runsOut = traced.flatMap(p => p.runs.map { r =>
      val audit = p.audits.find(_.name == r.name)
      Map("name" -> r.name, "pass" -> p.index, "noop_s" -> r.wallS,
        "count_s" -> audit.map(a => (a.endNs - a.startNs) / 1e9).getOrElse(0.0),
        "error" -> r.error.orElse(audit.flatMap(_.error)).getOrElse(""),
        "persisted_rdds" -> r.persistedRdds, "persisted_bytes" -> r.persistedBytes,
        "drain_views" -> r.drainViews, "active_streams" -> r.activeStreams)
    })
    val t0 = all.map(_.startNs).min
    Files.writeString(traceFile.toPath, Json(Map(
      "leaking_queries" -> leaking,
      "runs" -> runsOut,
      "self_s_by_layer" -> Trace.selfSecondsByLayer(all),
      "spans" -> all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)))))
    metrics - "trace.pass_s"
  }
}

/** Minimal JSON writer for the harness's reports. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.sorted
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
