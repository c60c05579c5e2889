package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's workloads: named sets of registry queries, each chosen
  * to stress a different layer (see perfbench/README.md).
  */
object Workloads {

  // Workloads hold an odd number of queries, so the median query time
  // falls inside one query's samples instead of between two queries.
  // They are sized so that a run (session, cold warm-up, three or four
  // timed passes, oracle gate) stays near a minute.

  /** Data-curation kernels: executor CPU, shuffle, eager
    * `Reuse.materialized` jobs and build-time memo fills dominate. A
    * `count()` action hid most of the cost of q_dup_spans and
    * q_attribution; q_minhash_lsh leaves persisted blocks behind; the two
    * PCA queries share one memo, so each pass has a first consumer that
    * fills it and a later one.
    */
  val curation: Seq[String] = Seq(
    "q_dup_spans", "q_attribution", "q_minhash_lsh", "q_pca_variance", "q_pca_project")

  /** AvailableNow drains through `StreamingOps`: RocksDB state,
    * watermarks, deduplication, a parquet sink and checkpoints. Most of
    * the time is build-time drains.
    */
  val streaming: Seq[String] = Seq(
    "q_stream_hourly", "q_stream_hourly_append", "q_stream_dedup")

  /** Reference dashboard panels whose queries make the dashboard
    * workload: one per kind of panel (counts, time series, top-N, custom
    * ordering, daily counts, outer join, lag, anomaly windows, cluster
    * profiles).
    */
  val dashboardPanels: Seq[String] = Seq(
    "totalEvents", "timeSeries", "diseaseDist", "severityDist", "informalDailyCounts",
    "officialVsInformal", "earlyDetection", "anomalyZScores", "clusterProfiles")

  /** The distinct queries behind [[dashboardPanels]]. */
  def dashboard: Seq[String] = dashboardPanels.map { p =>
    graft.queries.DashboardQueries.byReferenceName.getOrElse(p,
      throw new IllegalArgumentException(s"no dashboard panel `$p`")).name
  }.distinct

  val all: Seq[String] = Seq("dashboard", "curation", "streaming")

  def queryNames(workload: String): Seq[String] = workload match {
    case "dashboard" => dashboard
    case "curation" => curation
    case "streaming" => streaming
    case other => throw new IllegalArgumentException(
      s"unknown workload `$other` (known: ${all.mkString(", ")})")
  }

  /** The workload's queries from the registry. A name the registry lacks
    * fails here, so a renamed query cannot quietly shrink a workload.
    */
  def resolve(workload: String,
      registry: Map[String, (SparkSession, String) => DataFrame])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val names = queryNames(workload)
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty,
      s"workload $workload names queries missing from SparkEntry.queries: " +
        missing.mkString(", "))
    names.map(n => n -> registry(n))
  }

  /** Query order of pass `pass`: a Fisher-Yates shuffle of the sorted
    * names, drawn from a generator seeded by (seed, pass) alone.
    */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + pass)
    val a = names.sorted.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
