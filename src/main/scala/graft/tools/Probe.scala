package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.{GraftSession, SparkEntry, Tables}
import graft.ops.{DedupOps, JoinOps, Memos, PcaOps, Reuse, SimilarityOps}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** The one probe tool (measurement only, not library API): a shared
  * harness — one argument parser, one warm-up, one timer, one listener
  * census — under seven modes. Each mode takes a session, prints its
  * rows as they arrive (the scale experiments run for minutes) and
  * returns them; only [[main]] builds and stops a session.
  *
  * Usage: runMain graft.tools.Probe <mode> [positional…] [sf=DIR]
  *        [reps=N] [conf=k=v…] [out=DIR]
  *
  *  - `census <query…>`: per rep and query, build / plan / exec seconds
  *    plus the jobs, stages, tasks and input bytes the whole query cost
  *    (build-time eager jobs included). Exec is a full `noop` write,
  *    never `count()`. Memos are cleared at every rep, as Bench does.
  *  - `plan <query…>`: formatted EXPLAIN of the returned frame, to
  *    stdout or to `<out>/<query>.txt`. Builders that drain streams or
  *    loop over jobs run that work during construction.
  *  - `knn [n] [configs]`, `ann [nSynth]`, `dedup [nDocs] [bands]`,
  *    `asof [nLeft] [nRight]`, `layout`: the scale experiments behind
  *    PERF.md's hyperplane-LSH wall, ANN frontier, LSH dedup wall,
  *    as-of and z-order sections.
  *
  * `census`, `plan`, `ann` and `layout` read the tables under `sf=DIR`.
  * The session runs `local[SPARK_GRAFT_CPUS]` (default 32), as Bench.
  */
object Probe {

  final case class Args(mode: String, positional: Seq[String], sf: Option[String],
      reps: Int, confs: Seq[(String, String)], out: Option[String]) {
    def long(i: Int, default: Long): Long =
      positional.lift(i).fold(default)(_.toLong)
    def sfDir: String = sf.getOrElse(
      throw new IllegalArgumentException(s"$mode reads tables: pass sf=DIR"))
  }

  private val Modes = Seq("census", "plan", "knn", "ann", "dedup", "asof", "layout")
  private val Usage = Modes.mkString("usage: Probe <", "|", "> ") +
    "[positional…] [sf=DIR] [reps=N] [conf=k=v…] [out=DIR]"
  private val Flags = Seq("sf", "reps", "conf", "out")

  def parse(args: Seq[String]): Args = {
    require(args.nonEmpty && Modes.contains(args.head), Usage)
    val (flags, positional) = args.tail.partition(_.contains("="))
    flags.foreach(s => require(Flags.exists(f => s.startsWith(f + "=")),
      s"unknown flag `$s`; $Usage"))
    def flag(k: String): Seq[String] =
      flags.filter(_.startsWith(k + "=")).map(_.drop(k.length + 1))
    val confs = flag("conf").map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"bad conf `$kv`, want conf=key=value")
      kv.take(i) -> kv.drop(i + 1)
    }
    Args(args.head, positional, flag("sf").lastOption,
      flag("reps").lastOption.fold(3)(_.toInt), confs, flag("out").lastOption)
  }

  private def dispatch(spark: SparkSession, a: Args): Seq[Any] = a.mode match {
    case "census" => census(spark, a.sfDir, a.positional, a.reps)
    case "plan" => plan(spark, a.sfDir, a.positional, a.out)
    case "knn" =>
      knn(spark, a.long(0, 1000000L), a.positional.lift(1).map(_.split(",").toSeq))
    case "ann" => ann(spark, a.sfDir, a.long(0, 50100L))
    case "dedup" => dedup(spark, a.long(0, 1000000L),
      a.positional.lift(1).fold(Seq(2, 4, 8))(_.split(",").map(_.toInt).toSeq))
    case "asof" => asof(spark, a.long(0, 5000000L), a.long(1, 5000000L))
    case "layout" => layout(spark, a.sfDir)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "ERROR")
    try {
      a.confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // JIT/codegen warm-up outside every timed region
      spark.range(1000000).selectExpr("sum(id)").collect()
      try materialize(SparkEntry.entry(spark)) catch { case _: Throwable => () }
      dispatch(spark, a)
    } finally spark.stop()
  }

  // ------------------------------------------------------------ harness

  /** The full materialization every timed region ends in: each row and
    * column is produced, so Catalyst cannot prune work the way it does
    * under `count()`.
    */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Print a row as it arrives and hand it back. */
  private def report[R](row: R): R = { println(row); row }

  private final class Report {
    private val rows = Vector.newBuilder[String]
    def apply(line: String): Unit = rows += report(line)
    def result: Seq[String] = rows.result()
  }

  final case class Counts(jobs: Int, stages: Int, tasks: Long, inputBytes: Long)

  /** Jobs, stages, tasks and input bytes since the last [[reset]].
    * Listener events arrive asynchronously: [[read]] waits until every
    * started job has ended and no event has landed for 100 ms.
    */
  private final class Census extends SparkListener {
    private val jobs, jobsEnded, stages = new AtomicInteger
    private val tasks, inputBytes, events = new AtomicLong

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); events.incrementAndGet(); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobsEnded.incrementAndGet(); events.incrementAndGet(); ()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks.toLong)
      events.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.taskMetrics != null)
        inputBytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      events.incrementAndGet(); ()
    }

    def reset(): Unit = {
      read()
      Seq(jobs, jobsEnded, stages).foreach(_.set(0))
      Seq(tasks, inputBytes).foreach(_.set(0L))
    }

    def read(): Counts = {
      val deadline = System.currentTimeMillis() + 10000
      var last = -1L
      var quietSince = System.currentTimeMillis()
      while (System.currentTimeMillis() < deadline &&
          (System.currentTimeMillis() - quietSince < 100 || jobsEnded.get < jobs.get)) {
        val now = events.get
        if (now != last) { last = now; quietSince = System.currentTimeMillis() }
        Thread.sleep(10)
      }
      Counts(jobs.get, stages.get, tasks.get, inputBytes.get)
    }
  }

  /** Run `f` with a [[Census]] attached to the session's context. */
  private def withCensus[A](spark: SparkSession)(f: Census => A): A = {
    val c = new Census
    spark.sparkContext.addSparkListener(c)
    try f(c) finally spark.sparkContext.removeSparkListener(c)
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query `$name`"))

  // ------------------------------------------------------- census, plan

  final case class CensusRow(rep: Int, query: String, buildS: Double,
      planS: Double, execS: Double, counts: Counts) {
    override def toString: String =
      f"[rep $rep] $query%-28s build $buildS%6.3f  plan $planS%6.3f  " +
        f"exec $execS%6.3f  jobs=${counts.jobs}%3d  stages=${counts.stages}%3d  " +
        f"tasks=${counts.tasks}%5d  input=${counts.inputBytes / 1e6}%.1fMB"
  }

  def census(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int): Seq[CensusRow] = {
    require(names.nonEmpty, "census needs at least one query name")
    val fns = names.map(n => n -> query(n))
    withCensus(spark) { c =>
      (1 to reps).flatMap { rep =>
        Memos.clearAll()
        fns.map { case (name, fn) =>
          c.reset()
          val (df, build) = timed(fn(spark, sfDir))
          val (_, planS) = timed(df.queryExecution.executedPlan)
          val (_, exec) = timed(materialize(df))
          val counts = c.read()
          Reuse.releaseAllCaches(spark)
          report(CensusRow(rep, name, build, planS, exec, counts))
        }
      }
    }
  }

  /** (query, formatted EXPLAIN) per name. */
  def plan(spark: SparkSession, sfDir: String, names: Seq[String],
      out: Option[String]): Seq[(String, String)] = {
    require(names.nonEmpty, "plan needs at least one query name")
    out.foreach(d => Files.createDirectories(Paths.get(d)))
    names.map { q =>
      val txt = query(q)(spark, sfDir).queryExecution.explainString(FormattedMode)
      Memos.clearAll()
      Reuse.releaseAllCaches(spark)
      out match {
        case Some(d) =>
          Files.writeString(Paths.get(d, s"$q.txt"), txt)
          report(s"wrote $d/$q.txt")
        case None => report(s"===== $q =====\n$txt")
      }
      q -> txt
    }
  }

  // --------------------------------------------------------------- knn

  private val M = 2147483647L
  private val Dim = 64

  /** Deterministic uniform in [-1, 1] from (seed, j). The mix MUST be
    * NONLINEAR in (seed, j): any affine scramble `(a·seed + b·j) mod M`
    * leaves the corpus a one-parameter affine/Weyl family in R^dim,
    * which collapses every LSH band onto a few dozen sign-pattern
    * buckets (measured: Σ|bucket|² ≈ N²/65 per band at (4,16) on 1M
    * vectors — 6.1e10 candidates where a spread corpus yields ~1e7).
    * The square term breaks the affine structure: t² mod M decorrelates
    * coordinates across both j and id.
    */
  private def u(seed: Column, j: Column): Column = {
    val t = pmod(pmod(seed, lit(M)) * lit(2654435761L) + j * lit(40503L), lit(M))
    (pmod(t * t + t, lit(M)).cast("double") / M) * 2 - 1
  }

  /** Corpus: first 20% in planted clusters of 8 (shared base direction
    * + 5% noise — near-neighbors an ANN structure must find), rest
    * hash-random mass.
    */
  private def knnCorpus(spark: SparkSession, n: Long): DataFrame = {
    val nClustered = n / 5
    val g = (col("id") / 8).cast("long")
    val vec = transform(sequence(lit(1), lit(Dim)), j => {
      val base = u(g * lit(1000003L) + lit(7L), j)
      val noise = u(col("id") * lit(31L) + lit(13L), j)
      when(col("id") < nClustered, base + noise * 0.05).otherwise(noise)
    })
    spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
  }

  /** Config token: `BANDSxBITS[pPROBES][cCAP]` — e.g. `12x20p2c16` =
    * 12 bands × 20 bits, 2 probes per band, corpus occupancy cap 16.
    */
  private case class KnnConfig(bands: Int, bits: Int, probes: Int, cap: Int) {
    override def toString: String =
      s"${bands}x$bits" + (if (probes > 1) s"p$probes" else "") +
        (if (cap > 0) s"c$cap" else "")
  }
  private val ConfigRe = """(\d+)x(\d+)(?:p(\d+))?(?:c(\d+))?""".r
  private def parseConfig(s: String): KnnConfig = s match {
    case ConfigRe(b, k, p, c) => KnnConfig(b.toInt, k.toInt,
      Option(p).map(_.toInt).getOrElse(1), Option(c).map(_.toInt).getOrElse(0))
    case other => throw new IllegalArgumentException(s"bad config: $other")
  }

  /** Candidate volume for a banding config — the bucket join count
    * BEFORE rerank (the number the Σ|bucket|² law governs). `cap = 0`
    * counts unordered pairs (x.id < y.id). `cap > 0` counts what the
    * GRAPH kernel actually generates: uncapped QUERY buckets against
    * capped CORPUS buckets, both directions (Σ|b_q|·min(|b_c|,cap) per
    * band) — a both-sides-capped count looked 10× smaller than the
    * kernel's real fan-out and let a 90 GB build through a 20 GB gate.
    */
  private def candidateCount(vecs: DataFrame, bands: Int, bandBits: Int,
      cap: Int): Long = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val raw = vecs.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vd"))
      .select(col("id"),
        posexplode(expr(s"hyperplane_buckets(vd, $bands, $bandBits, $Dim)"))
          .as(Seq("band", "bucket")))
    val sameBucket = col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
    if (cap > 0)
      raw.as("x").join(SimilarityOps.capBandBuckets(raw, cap).as("y"),
        sameBucket && col("x.id") =!= col("y.id")).count()
    else
      raw.as("x").join(raw.as("y"), sameBucket && col("x.id") < col("y.id")).count()
  }

  /** Large-N wall evidence for the hyperplane-LSH vector family behind
    * q_knn_graph_lsh / q_knn_graph_capped. Three experiments:
    *
    *  1. CONFIG SWEEP at N vectors: candidate volume per
    *     `BANDSxBITS[pP][cC]` config — with 2^bandBits buckets per band,
    *     candidates grow ~N²/2^bandBits per band, so bucket count must
    *     SCALE WITH N (bandBits ≈ log2(N/occupancy)). Every config
    *     measures recall@5 on a ~100-query slice against brute-force
    *     cosine; feasible configs also time the full graph build (the
    *     two-phase rerank of [[SimilarityOps.lshKnnGraphRawMultiProbe]],
    *     staged when asked) and measure recall FROM THE BUILT GRAPH.
    *  2. CAP RESCUE: a config infeasible uncapped re-run with a `cC`
    *     occupancy cap — candidate volume drops to ≤ N·cap·bands.
    *  3. PLANTED MEGA-BUCKET: B identical vectors plus 100k random
    *     mass — uncapped candidates grow as C(B,2)·bands (bandBits
    *     can't help: identical vectors share every bucket), capped as
    *     ≤ B·cap·bands. Two block sizes put the 4×-block → 16×-vs-4×
    *     growth split in the numbers.
    *
    * Environment knobs: SPARK_GRAFT_BUILD=0 (recall-only sweep),
    * SPARK_GRAFT_COUNT=0 (skip the candidate count),
    * SPARK_GRAFT_STAGE_BANDS=G (staged build, G bands per group),
    * SPARK_GRAFT_REFINE=1 (one NN-descent round, recall re-measured),
    * SPARK_GRAFT_FEASIBLE=N (candidate budget for unstaged builds).
    */
  def knn(spark: SparkSession, n: Long, configArg: Option[Seq[String]]): Seq[String] = {
    val out = new Report
    val vecs = Reuse.materialized(knnCorpus(spark, n))
    out(s"knn probe: N=$n dim=$Dim (20% in planted 8-clusters)")

    // brute-force top-5 on a ~100-query slice (broadcast queries, one
    // corpus scan, per-query window): the recall oracle
    val step = math.max(1L, n / 100L)
    val queries = vecs.filter(pmod(col("vec_id"), lit(step)) === 0)
    graft.functions.GraftFunctions.register(spark)
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      col("embedding").as("qv"))
      .withColumn("qn", sqrt(expr("dot_product(qv, qv)"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val (bruteSet, tBrute) = timed(vecs
      .withColumn("cn", sqrt(expr("dot_product(embedding, embedding)")))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("dot_product(qv, embedding)") / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("nid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    out(f"  brute top-5 over ${queries.count()} queries: $tBrute%.1fs")

    def recallOf(edges: DataFrame): Double = {
      val got = edges.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.count(bruteSet.contains).toDouble / bruteSet.size
    }

    val configs = configArg.getOrElse(Seq("4x16", "4x12", "4x10")).map(parseConfig)
    val doBuild = sys.env.getOrElse("SPARK_GRAFT_BUILD", "1") != "0"
    val doCount = sys.env.getOrElse("SPARK_GRAFT_COUNT", "1") != "0"
    val stageBands = sys.env.getOrElse("SPARK_GRAFT_STAGE_BANDS", "0").toInt
    val doRefine = sys.env.getOrElse("SPARK_GRAFT_REFINE", "0") == "1"
    val feasible = sys.env.getOrElse("SPARK_GRAFT_FEASIBLE", "700000000").toLong
    for (cfg <- configs) {
      import cfg.{bands, bits, probes, cap}
      val (cand, candWall) =
        timed(if (doCount) candidateCount(vecs, bands, bits, cap) else -1L)
      // query-slice recall: cheap at any config (100 queries vs corpus)
      val rec = recallOf(SimilarityOps.lshKnnGraphRawMultiProbe(
        queries, vecs, "vec_id", "embedding", 5, bands, bits, Dim,
        probes = probes, bucketCap = cap))
      out(f"  $cfg: candidates=$cand%,d (count wall $candWall%.1fs) slice recall@5=$rec%.3f")
      val buildable = doBuild &&
        (stageBands > 0 || cand < 0 || cand * probes <= feasible)
      if (buildable) {
        val work = Files.createTempDirectory(s"graft_probeknn_$cfg").toString
        val (edges, wall) = timed {
          val graph =
            if (stageBands > 0)
              SimilarityOps.lshKnnGraphStagedRaw(vecs, "vec_id", "embedding", 5,
                bands, bits, Dim, probes, cap, stageBands, s"$work/stages")
            else
              SimilarityOps.lshKnnGraphRawMultiProbe(vecs, vecs,
                "vec_id", "embedding", 5, bands, bits, Dim, probes, cap)
          graph.write.mode("overwrite").parquet(s"$work/graph")
          spark.read.parquet(s"$work/graph").count()
        }
        val built = spark.read.parquet(s"$work/graph")
        // recall measured FROM THE BUILT GRAPH (never a separate
        // query-slice run): the number that may carry the 'built' label
        val builtRec = recallOf(built.filter(pmod(col("query_id"), lit(step)) === 0))
        val staged = if (stageBands > 0) s" staged($stageBands/group)" else ""
        out(f"    $cfg BUILT$staged: graph=$edges%,d edges in $wall%.1fs built recall@5=$builtRec%.3f")
        if (doRefine) {
          val (redges, rwall) = timed {
            SimilarityOps.knnGraphRefineRaw(vecs, "vec_id", "embedding", 5, built)
              .write.mode("overwrite").parquet(s"$work/refined")
            spark.read.parquet(s"$work/refined").count()
          }
          val refined = spark.read.parquet(s"$work/refined")
          val refRec = recallOf(refined.filter(pmod(col("query_id"), lit(step)) === 0))
          out(f"    $cfg REFINED: graph=$redges%,d edges in $rwall%.1fs built recall@5=$refRec%.3f (one NN-descent round)")
        }
      } else if (doBuild) {
        out(s"    $cfg build skipped (candidates over budget; set SPARK_GRAFT_STAGE_BANDS to stage)")
      }
      // drop the finished config's shuffle files before the next one:
      // the ContextCleaner only reclaims after a GC cycle, and a 5M
      // corpus-side vector ride is ~20-40 GB of shuffle per config
      System.gc()
      Thread.sleep(2000)
    }

    val fixed = transform(sequence(lit(1), lit(Dim)), j => u(lit(99L), j))
    for (block <- Seq(5000L, 20000L)) {
      val mega = spark.range(block + 100000L).select(col("id").as("vec_id"),
        when(col("id") < block, fixed)
          .otherwise(transform(sequence(lit(1), lit(Dim)),
            j => u(col("id") * lit(31L) + lit(13L), j))).as("embedding"))
      val mv = Reuse.materialized(mega)
      val un = candidateCount(mv, 4, 16, cap = 0)
      val cp = candidateCount(mv, 4, 16, cap = 16)
      out(f"  mega-bucket block=$block%,d (+100k random): uncapped candidates=$un%,d capped(16)=$cp%,d")
      Reuse.releaseAllCaches(spark)
    }
    out.result
  }

  // --------------------------------------------------------------- ann

  /** ANN quality/cost frontier: recall@10 against exact brute force and
    * wall time per approximate path, as the markdown tables in PERF.md.
    * Three tables: the `embeddings` table of `sfDir` (IVF nProbe sweep,
    * PQ/OPQ × {cosine, L2} codebooks, IVFPQ, JL, LSH, Hamming sketch);
    * an nSynth-vector hashed corpus with planted 25-sibling groups,
    * where arithmetic rather than stage constants decides the wall;
    * and a dense nSynth-vector corpus that load-tests the self-
    * calibrated sketch radius against the hand-tuned 115.
    */
  def ann(spark: SparkSession, sfDir: String, nSynth: Long): Seq[String] = {
    val out = new Report
    val k = 10
    // warm once (centroid learning, JIT), then time a full collect
    def run(f: () => DataFrame): (Double, Set[(Long, Long)]) = {
      materialize(f())
      val (pairs, dt) = timed(f().select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      Reuse.releaseAllCaches(spark)
      (dt, pairs)
    }
    def frontier(title: String, q: DataFrame, c: DataFrame,
        paths: Seq[(String, () => DataFrame)]): Unit = {
      val nQ = q.count()
      val (tB, truth) = run(() =>
        SimilarityOps.bruteForceTopK(q, c, "vec_id", "embedding", k))
      out(s"| $title | wall (s) | recall@$k |")
      out("|---|---|---|")
      out(f"| exact brute-force (baseline) | $tB%.2f | 1.000 |")
      paths.foreach { case (name, f) =>
        val (t, got) = run(f)
        out(f"| $name | $t%.2f | ${(got & truth).size.toDouble / (nQ * k)}%.3f |")
      }
    }

    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 50)
    val corpus = emb.filter(col("vec_id") >= 50)
    // OPQ: a FULL-RANK rotation into the deflated-PCA basis, applied
    // WITHOUT centering (a pure rotation preserves raw-space cosine;
    // rotating centered vectors ranks in another metric — the mean-
    // shift trap). Components are dealt round-robin across the 8
    // sub-spaces (balanced eigenvalue allocation): a contiguous split
    // gives sub-space 0 nearly all the variance and K=16 centroids
    // cannot code it.
    val rotated = {
      val (_, comps) = PcaOps.topComponents(emb, "vec_id", "embedding", 64, 2, 64)
      val perm = (0 until 8).flatMap(s => (0 until 8).map(r => s + r * 8 + 1))
      PcaOps.transformWith(emb, "vec_id", "embedding", 64, Array.fill(64)(0.0), comps)
        .select(col("vec_id"), array(perm.map(i => col(s"pc$i")): _*).as("embedding"))
    }
    val rq = rotated.filter(col("vec_id") < 50)
    val rc = rotated.filter(col("vec_id") >= 50)
    def pq(q: DataFrame, c: DataFrame, metric: String) = () =>
      SimilarityOps.pqTopK(q, c, "vec_id", "embedding", k, subspaces = 8,
        codebookSize = 16, learnIters = 1, dim = 64, metric = metric)
    def sketch(q: DataFrame, c: DataFrame, radius: Int) = () =>
      SimilarityOps.sketchTopK(q, c, "vec_id", "embedding", k,
        bits = 256, dim = 64, maxHamming = radius)
    frontier("ANN path", queries, corpus,
      Seq(1, 2, 4, 8).map(p => s"IVF 16 cells, Lloyd's x2, nProbe=$p" -> (() =>
        SimilarityOps.ivfTopK(queries, corpus, "vec_id", "embedding", k,
          nCentroids = 16, nProbe = p, learnIters = 2))) ++ Seq(
        "PQ-ADC M=8 K=16 (8x compression)" -> pq(queries, corpus, "cosine"),
        "OPQ: full-rank PCA rotation -> PQ M=8 K=16 (equal bytes)" -> pq(rq, rc, "cosine"),
        "PQ-ADC M=8 K=16, L2-assignment codebooks (unrotated)" -> pq(queries, corpus, "l2"),
        "OPQ rotation -> PQ M=8 K=16, L2-assignment codebooks" -> pq(rq, rc, "l2"),
        // a rotation preserves cosine exactly, so this row must read
        // ~1.0 — else the OPQ rows measure a broken basis, not PQ
        "SANITY exact brute on rotated vectors (must be ~1.0)" -> (() =>
          SimilarityOps.bruteForceTopK(rq, rc, "vec_id", "embedding", k)),
        "IVFPQ (IVFADC) 16 cells nProbe=4 × M=8 K=16" -> (() =>
          SimilarityOps.ivfPqTopK(queries, corpus, "vec_id", "embedding", k,
            nCentroids = 16, nProbe = 4, ivfIters = 2,
            subspaces = 8, codebookSize = 16, pqIters = 1, dim = 64)),
        "JL 64→16 shortlist-50 + exact rerank" -> (() =>
          SimilarityOps.jlShortlistTopK(queries, corpus, "vec_id", "embedding",
            k, shortlist = 50, outDim = 16, dim = 64))) ++
      Seq((4, 4), (8, 4), (8, 6)).map { case (bands, bits) =>
        s"LSH $bands bands x $bits bits" -> (() =>
          SimilarityOps.lshTopK(queries, corpus, "vec_id", "embedding", k,
            bands = bands, bandBits = bits, dim = 64))
      } ++
      Seq(110, 115, 120).map(r =>
        s"Hamming sketch 256 bits, radius $r" -> sketch(queries, corpus, r)))

    // scaled: hashed n-gram vectors with PLANTED 25-sibling groups
    // (cos ≈ 0.31) × 100 queries — brute pays every 64-FMA dot plus
    // the sort exchange; the sketch pays 4-word POPCNTs and exact-
    // scores only the radius survivors
    graft.functions.GraftFunctions.register(spark)
    val synth = spark.range(nSynth).select(col("id").as("vec_id"),
      expr("zip_with(hashed_embed(CAST(id % 2000 AS STRING)), " +
        "hashed_embed(CAST(id AS STRING)), " +
        "(a, b) -> a + CAST(1.5 AS FLOAT) * b)").as("embedding"))
    val sq = synth.filter(col("vec_id") < 100)
    val sc = synth.filter(col("vec_id") >= 100)
    frontier(s"ANN path @${nSynth / 1000}k corpus", sq, sc,
      Seq(110, 115, 120).map(r =>
        s"Hamming sketch 256 bits, radius $r" -> sketch(sq, sc, r)))

    // calibration validation needs a DENSE 64-d corpus: the hashed
    // corpus is 384-d truncated to 64 dims, so most of its vectors
    // restrict to zero and the sampled pair-distance quantile collapses
    // to radius 0 (the bias case in PERF.md)
    def densePart(seed: String, key: String) =
      s"(CAST(pmod(hash($key, j, $seed), 1000) AS DOUBLE) / 500.0 - 1.0)"
    val dense = spark.range(nSynth).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> " +
        s"${densePart("1", "CAST(id % 2000 AS INT)")} + " +
        s"1.5 * ${densePart("7", "CAST(id AS INT)")})").as("embedding"))
    val qd = dense.filter(col("vec_id") < 100)
    val cd = dense.filter(col("vec_id") >= 100)
    val calibrated = SimilarityOps.calibrateHammingRadius(
      cd, "vec_id", "embedding", bits = 256, dim = 64, sampleN = 100, targetFrac = 0.05)
    frontier(s"calibration validation @${nSynth / 1000}k dense corpus", qd, cd, Seq(
      "hand-tuned radius 115" -> sketch(qd, cd, 115),
      s"auto-calibrated radius (targetFrac=0.05) -> $calibrated" ->
        sketch(qd, cd, calibrated)))
    out.result
  }

  // ------------------------------------------------------------- dedup

  /** Large-N evidence for the MinHash-LSH dedup wall. Synthetic corpus:
    * groups of 4 documents share a 10-word base sequence with (id mod 4)
    * positions perturbed — a planted near-dup Jaccard ladder — plus
    * hash-random non-dup mass. One shared shingle table feeds every
    * banding config; per band count the probe measures the candidate-
    * pair count, the candidate-generation wall and the exact-Jaccard
    * verify wall.
    */
  def dedup(spark: SparkSession, nDocs: Long, bandCounts: Seq[Int]): Seq[String] = {
    val out = new Report
    val vocab = 60466176L // 36^5: words of <= 5 base-36 chars
    val wordCols = (1 to 10).map { j =>
      val g = col("id") - pmod(col("id"), lit(4L))
      val base = conv(pmod(g * 2654435761L + lit(j * 40503L), lit(vocab))
        .cast("string"), 10, 36)
      val pert = conv(pmod(col("id") * 40503L + lit(j * 2654435761L), lit(vocab))
        .cast("string"), 10, 36)
      when(pmod(col("id"), lit(4L)) >= j, pert).otherwise(base)
    }
    val docs = spark.range(nDocs)
      .select(col("id"), concat_ws(" ", wordCols: _*).as("text"))

    // Reuse.materialized is EAGER, so the timing window wraps the fill
    val ((sh, nSh), tSh) = timed {
      val s = Reuse.materialized(DedupOps.discriminativeShingles(docs, "id", "text"))
      (s, s.count())
    }
    out(f"dedup probe: nDocs=$nDocs shingles=$nSh shingleWall=$tSh%.2fs")

    val P = DedupOps.P
    val sig = {
      val h = col("h") % P
      val aggs = (0 until DedupOps.K).map(i =>
        min((lit(DedupOps.hashA(i)) * h + lit(DedupOps.hashB(i))) % P).as(s"m$i"))
      sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    }
    for (bands <- bandCounts) {
      require(DedupOps.K % bands == 0, s"bands=$bands must divide K=${DedupOps.K}")
      val rpb = DedupOps.K / bands
      val bandKeys = Seq("band") ++ (0 until rpb).map(r => s"b$r")
      val bandCols = (0 until bands).map { j =>
        val ms = (j * rpb until (j + 1) * rpb).zipWithIndex
          .map { case (i, r) => col(s"m$i").as(s"b$r") }
        struct((lit(j).as("band") +: ms): _*)
      }
      val buckets = sig
        .select(col("id"), explode(array(bandCols: _*)).as("bb"))
        .select((col("id") +: bandKeys.map(k => col(s"bb.$k"))): _*)
      val cand = buckets.as("x").join(buckets.as("y"),
          bandKeys.map(k => col(s"x.$k") === col(s"y.$k"))
            .reduce(_ && _) && col("x.id") < col("y.id"))
        .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
        .distinct()
      val ((candC, nCand), tCand) = timed {
        val c = Reuse.materialized(cand)
        (c, c.count())
      }
      // candidate-driven exact-Jaccard verify (the certified
      // minhashNearDuplicates tail): work is linear in candidates
      val (nVerified, tVer) = timed {
        val inter = candC
          .join(sh.select(col("id").as("doc_a"), col("h")), "doc_a")
          .join(sh.select(col("id").as("doc_b"), col("h")), Seq("doc_b", "h"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("inter"))
        val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
        inter
          .join(sz.withColumnRenamed("id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
          .join(sz.withColumnRenamed("id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
          .filter(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")) >= 0.5)
          .count()
      }
      out(f"dedup probe: nDocs=$nDocs bands=$bands rowsPerBand=$rpb " +
        f"candidates=$nCand candWall=$tCand%.2fs " +
        f"verified@0.5=$nVerified verifyWall=$tVer%.2fs")
    }
    out.result
  }

  // -------------------------------------------------------------- asof

  /** Head-to-head of the as-of join plans on a synthetic series far
    * larger than the sf0.1 events table: union + running-last window
    * ([[JoinOps.asofJoin]]) against the native streaming-merge exec
    * ([[JoinOps.asofJoinNative]]), then the directional merges, the
    * bloom-pruned variant under a 1%-selective left side, and the
    * exchange-free bucketed layout. Every variant that must agree is
    * checked on a checksum before its timing is reported.
    */
  def asof(spark: SparkSession, nLeft: Long, nRight: Long): Seq[String] = {
    val out = new Report
    val nKeys = 100000L
    // deterministic scattered (key, ts) series; ts globally unique per
    // side (scattered high bits + the unique id as low bits), so the
    // right side satisfies the unique-per-(key, ts) as-of contract
    def series(n: Long, salt: Long) = spark.range(n).select(
      pmod(col("id") * 2654435761L + salt, lit(nKeys)).as("k"),
      (pmod(col("id") * 40503L + salt * 7L, lit(1000000000L)) * (n + 1) +
        col("id")).as("ts"),
      col("id").as("payload"))
    val left = series(nLeft, 1L)
    val rightNat = series(nRight, 2L).select(col("k"), col("ts").as("rts"),
      col("payload").as("payload_r"))

    def checksum(df: DataFrame): Long =
      df.select(coalesce(col("payload_r"), lit(-1L)).as("m"), col("payload"))
        .agg(sum(expr("m * 31 + payload"))).collect().head.getLong(0)
    // warm once, then time the checksum
    def run(f: () => DataFrame): (Double, Long) = {
      materialize(f())
      val (cs, dt) = timed(checksum(f()))
      Reuse.releaseAllCaches(spark)
      (dt, cs)
    }
    def native(l: DataFrame, r: DataFrame, direction: String = "backward") =
      JoinOps.asofJoinNative(l, r, "k", "ts", "rts", Seq("payload_r"),
        direction = direction)

    val (tWin, csWin) = run(() =>
      JoinOps.asofJoin(left, rightNat, "k", "ts", "rts", Seq("payload_r")))
    val (tNat, csNat) = run(() => native(left, rightNat))
    require(csWin == csNat, s"result mismatch: $csWin vs $csNat")
    out(f"asof probe: nLeft=$nLeft nRight=$nRight keys=$nKeys " +
      f"window=$tWin%.2fs native=$tNat%.2fs speedup=${tWin / tNat}%.2fx " +
      s"checksum=$csWin")

    // forward buffers nothing (its candidate is the lookahead row), so
    // it bounds the merge cost from below; nearest adds the lookahead
    // compare to backward's buffering. Checksums differ by direction
    // but are deterministic, so cross-run equality is checkable.
    val (tFwd, csFwd) = run(() => native(left, rightNat, "forward"))
    val (tNear, csNear) = run(() => native(left, rightNat, "nearest"))
    out(f"asof direction probe: backward=$tNat%.2fs " +
      f"forward=$tFwd%.2fs nearest=$tNear%.2fs " +
      s"checksums fwd=$csFwd near=$csNear")

    // the runtime-filter regime: the left batch touches 1% of the key
    // space, the history is full-width — the win is right-side rows
    // that never reach the shuffle
    val selLeft = left.filter(col("k") < nKeys / 100)
    val (tSelPlain, csSelPlain) = run(() => native(selLeft, rightNat))
    val (tSelBloom, csSelBloom) = run(() =>
      JoinOps.asofJoinNativeBloom(selLeft, rightNat, "k", "ts", "rts",
        Seq("payload_r")))
    require(csSelPlain == csSelBloom,
      s"bloom result mismatch: $csSelPlain vs $csSelBloom")
    out(f"asof bloom probe (1%% selective left): " +
      f"plain=$tSelPlain%.2fs bloom=$tSelBloom%.2fs " +
      f"speedup=${tSelPlain / tSelBloom}%.2fx checksum=$csSelPlain")

    // both sides persisted bucketed-by-key: AsofJoinExec's clustered
    // requirement is met by the scans, so the probe-time plan has NO
    // exchange. The write is paid once per history rebuild.
    val (_, tWrite) = timed {
      graft.sinks.Sinks.replaceBucketedTable(left, "probe_asof_left_b", Seq("k"), 32)
      graft.sinks.Sinks.replaceBucketedTable(rightNat, "probe_asof_right_b", Seq("k"), 32)
    }
    def bucketed = native(spark.table("probe_asof_left_b"), spark.table("probe_asof_right_b"))
    val (tBuck, csBuck) = run(() => bucketed)
    require(csBuck == csNat, s"bucketed result mismatch: $csBuck vs $csNat")
    require(!bucketed.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
      "bucketed asof probe unexpectedly shuffled")
    out(f"asof bucketed probe: write=$tWrite%.2fs (once per rebuild) " +
      f"probe=$tBuck%.2fs vs raw native=$tNat%.2fs " +
      f"speedup=${tNat / tBuck}%.2fx exchange-free=true")
    out.result
  }

  // ------------------------------------------------------------ layout

  /** What the z-order layout (q_zorder_tiles / ScaleQueries.withMortonZ)
    * buys at the storage layer: bytes a selective 2-D range scan over
    * lineitem reads when the table is persisted shuffled, sorted by one
    * key, or z-ordered on (l_partkey, l_suppkey) — small parquet row
    * groups so min/max stats have pruning resolution, bytes from the
    * task input metrics. All layouts must agree on the results.
    */
  def layout(spark: SparkSession, sfDir: String): Seq[String] = {
    val out = new Report
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_partkey").cast("long").as("l_partkey"),
        col("l_suppkey").cast("long").as("l_suppkey"),
        col("l_quantity").cast("double").as("l_quantity"))
    // scale both keys onto the FULL 16-bit grid — raw TPC-H keys live
    // in the low corner, where a z-prefix tiling has no resolution
    // over the actual data range
    val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val (pMax, sMax) = (mx.getLong(0), mx.getLong(1))
    val keyed = graft.queries.ScaleQueries.withMortonZ(
      li.withColumn("xq", (col("l_partkey") * 65535L / pMax).cast("long"))
        .withColumn("yq", (col("l_suppkey") * 65535L / sMax).cast("long")))
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("z"))

    val work = Files.createTempDirectory("graft_probe_layout_").toAbsolutePath.toString
    def write(tag: String, df: DataFrame): String = {
      val path = s"$work/$tag"
      df.coalesce(1).write
        .option("parquet.block.size", 256 * 1024) // many row groups
        .parquet(path)
      path
    }
    val layouts = Seq(
      "shuffled" -> write("shuffled", keyed.orderBy(md5(col("l_partkey").cast("string")))),
      "one-key sort(p)" -> write("onekey", keyed.orderBy(col("l_partkey"))),
      "z-order" -> write("zorder", keyed.orderBy(col("z"))))

    val (pLo, pHi, sLo, sHi) = (10000L, 10640L, 500L, 532L)
    val predicates = Seq(
      "p-range only" -> col("l_partkey").between(pLo, pHi),
      "s-range only" -> col("l_suppkey").between(sLo, sHi),
      "2-D range" -> (col("l_partkey").between(pLo, pHi)
        && col("l_suppkey").between(sLo, sHi)))
    withCensus(spark) { c =>
      def scan(path: String, pred: Column): (Long, Long, Double) = {
        val df = spark.read.parquet(path).filter(pred)
          .agg(count(lit(1)), coalesce(sum(col("l_quantity")), lit(0.0)))
        c.reset()
        val r = df.head()
        (c.read().inputBytes, r.getLong(0), r.getDouble(1))
      }
      // warm the reader paths once so footers/JIT don't skew the compare
      scan(layouts.head._2, predicates.head._2)
      predicates.foreach { case (qtag, pred) =>
        val rows = layouts.map { case (tag, p) =>
          val (b, n, s) = scan(p, pred)
          (tag, b, n, s)
        }
        require(rows.map(_._3).distinct.size == 1
          && rows.map(_._4).distinct.size == 1,
          s"layouts disagree on results: $rows")
        out(s"[$qtag] ${rows.head._3} rows")
        rows.foreach { case (tag, b, _, _) =>
          out(f"  $tag%-16s bytesRead=${b / 1024.0}%9.1f KiB")
        }
      }
    }
    out.result
  }
}
