package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed cardinality sketching (HyperLogLog) built so the WHOLE
  * sketch — hash, register assignment, leading-zero ranks, harmonic
  * sum, estimator — is bit-reproducible in ANSI SQL, i.e. a certified
  * operator rather than an opaque `approx_count_distinct`:
  *
  *  - hash: [[TextOps.polyHash]] over the first 8 hex chars of md5
  *    (the repo's portable hash), re-mixed into the Mersenne range
  *    [0, 2^31-1) with the same `(a·h + b) mod p` family the MinHash
  *    operators use — HLL's geometric rank law needs the hash uniform
  *    over a (near-)power-of-two range, which the raw polynomial hash
  *    of hex text is not;
  *  - rank (leading-zero count): via `length(bin(x))` — an INTEGER
  *    identity in both engines (`floor(log2(x)) = length(bin(x))-1`),
  *    where a float `log2` could flip a floor at a power-of-2
  *    boundary;
  *  - harmonic sum: registers contribute `2^(Scale - reg)` as exact
  *    BIGINTs — order-free (the repo's float-determinism policy:
  *    quantize BEFORE the sum), so partial-aggregation order cannot
  *    move the estimate;
  *  - estimator: raw HLL `alpha · m² · 2^Scale / S` written as the
  *    identical literal arithmetic in both engines (every literal
  *    CAST AS DOUBLE — DuckDB parses bare decimals as DECIMAL), plus
  *    the standard linear-counting small-range correction
  *    (`m · ln(m/V)` when V empty registers exist and the raw
  *    estimate is below 2.5m). libm `ln` is NOT bit-portable, but V
  *    has only m possible values — so `ln(m/V)` ships as a literal
  *    LOOKUP TABLE of m doubles rendered from one `math.log` run at
  *    query-generation time; both engines index the same constants
  *    and the estimator stays hash-certifiable.
  *
  * Scale shape: one map-side projection (hash→register→rank), one
  * shuffle of (group, register) pairs capped at m rows per group by
  * the partial MAX, one tiny final aggregation — the textbook
  * mergeable-sketch layout; at 100 TB the shuffle moves at most
  * `groups × m` rows regardless of input size.
  */
object SketchOps {

  val Mersenne: Long = 2147483647L // 2^31 - 1, as the MinHash family
  val MixA: Long = 1540483477L
  val MixB: Long = 12345L
  val P = 8 // register-index bits
  val M: Int = 1 << P // 256 registers
  val W = 23 // rank width: mixed hash / M is uniform over [0, 2^23)
  val Scale: Int = W + 2 // 2^(Scale - rank) exact BIGINT, rank <= W+1

  /** Per-group HLL distinct estimate next to the exact count.
    * `keyCol` is stringified and hashed via md5, so any type works.
    * Output: (group, n_exact, n_hll, rel_err).
    */
  def hllDistinct(df: DataFrame, groupCol: String, keyCol: String): DataFrame =
    hllEstimate(
      hllRegisters(df, groupCol, keyCol),
      df.groupBy(col(groupCol).as("grp"))
        .agg(count_distinct(col(keyCol)).as("n_exact")),
      groupCol)

  /** The MERGEABLE half of the HLL: the per-(group, register) max
    * rank. A plain `groupBy().max()` — max is idempotent and
    * commutative, so partials from any batch split (or any streaming
    * micro-batch cut) merge to the same register table; that is the
    * property [[graft.queries.StreamQueries.q_stream_hll]] certifies
    * against this sketch's own batch oracle.
    */
  def hllRegisters(df: DataFrame, groupCol: String, keyCol: String): DataFrame =
    hllHashed(df, groupCol, keyCol)
      .groupBy(col("grp"), col("idx"))
      .agg(max(col("rank")).as("reg"))

  /** (grp, idx, rank) projection of the register builder. A
    * NULL key null-propagates through md5 → polyHash → idx/rank, so
    * null keys land in the (grp, idx=NULL) bucket rather than a
    * register.
    */
  private def hllHashed(df: DataFrame, groupCol: String, keyCol: String): DataFrame = {
    // one-pass codegen'd md5+fold ([[graft.functions.Md5Poly8]]) —
    // value-identical to polyHash(substring(md5(key), 1, 8), 8), which
    // is what the oracles replay; the algebraic chain costs ~10× more
    // (hex-string materialization + 8 substring+ascii per row)
    import org.apache.spark.sql.GraftColumnBridge
    val h0 = GraftColumnBridge.column(graft.functions.Md5Poly8(
      GraftColumnBridge.expression(col(keyCol).cast("string"))))
    val h = (lit(MixA) * (h0 % Mersenne) + lit(MixB)) % Mersenne
    val idx = h % M
    val rest = floor(h / M).cast("long")
    val rank = when(rest === 0L, lit(W + 1))
      .otherwise(lit(W + 1) - length(bin(rest)))
    df.select(col(groupCol).as("grp"), idx.as("idx"), rank.as("rank"))
  }

  /** Register table → (grp, est) with the UNROUNDED estimate column —
    * the shared read-off both certified shapes (with and without the
    * exact ground truth) round from.
    */
  private def hllRawEstimate(regs: DataFrame): DataFrame =
    hllRawEstimateBy(regs, Seq("grp"))

  /** Same read-off over an arbitrary grouping (the pair-keyed union
    * sketches of [[hllOverlap]] group by two columns).
    */
  private def hllRawEstimateBy(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val sums = regs.groupBy(groupCols.map(col): _*)
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $Scale - reg)")).as("s_present"),
        count(lit(1)).as("n_present"))
      .withColumn("s",
        col("s_present") + (lit(M.toLong) - col("n_present")) * (1L << Scale))
    // (0.7213 / (1 + 1.079/m)) * m^2 * 2^Scale / S — same literal op
    // sequence as the oracle renders
    val estRaw = (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(M.toDouble))) *
      lit(M.toDouble * M.toDouble) * lit((1L << Scale).toDouble) /
      col("s").cast("double")
    val zeros = lit(M.toLong) - col("n_present")
    val lnLookup = element_at(
      array((1 to M).map(v => lit(math.log(M.toDouble / v))): _*),
      zeros.cast("int"))
    val est = when(zeros > 0L && estRaw <= lit(2.5 * M),
      lit(M.toDouble) * lnLookup).otherwise(estRaw)
    sums.select(groupCols.map(col) :+ est.as("est"): _*)
  }

  /** The read-off half: register sums → bias-corrected estimate with
    * the linear-counting branch, joined to the exact counts
    * (`exact`: (grp, n_exact)) for the certified error column.
    */
  def hllEstimate(regs: DataFrame, exact: DataFrame, groupCol: String): DataFrame =
    hllRawEstimate(regs).join(exact, "grp")
      .select(col("grp").as(groupCol), col("n_exact"),
        round(col("est"), 2).as("n_hll"),
        round(abs(col("est") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 4).as("rel_err"))

  /** Exact-free read-off — the form the 100 TB profiler uses, where
    * computing the ground truth would defeat the sketch: (groupCol,
    * n_hll) only.
    */
  def hllEstimateOnly(regs: DataFrame, groupCol: String): DataFrame =
    hllRawEstimate(regs)
      .select(col("grp").as(groupCol), round(col("est"), 2).as("n_hll"))

  /** HLL SET ALGEBRA: per group-pair (a < b) distinct-key overlap with
    * NO pairwise key join anywhere. Registers max-merge into the union
    * sketch (the same mergeability the streaming certs prove), so
    * |A∪B| reads off the merged registers and |A∩B| follows by
    * inclusion–exclusion: est(A) + est(B) − est(A∪B), clamped at 0.
    *
    * This is the 100 TB sibling of the exact cross-source overlap
    * (reference: cross-registry overlap reporting,
    * `analytics_queries.py`-style pair joins): the exact form must
    * equi-join the full key tables per pair, while this one ships ONE
    * m-register sketch per group — after the single linear scan,
    * pair-overlap cost is `pairs × m` rows, independent of input size,
    * and the per-group sketches are reusable across any number of
    * pairings (the register table is materialized once).
    *
    * Output: (group_a, group_b, n_a, n_b, n_union, n_inter,
    * jaccard_est) — counts rounded to 2 dp, the Jaccard estimate
    * floor-quantized to 4 dp (the repo's cross-engine float policy).
    */
  def hllOverlap(df: DataFrame, groupCol: String, keyCol: String): DataFrame = {
    val regs = Reuse.materialized(hllRegisters(df, groupCol, keyCol))
    val ests = hllRawEstimate(regs)
    val groups = regs.select(col("grp")).distinct()
    // the group list is bounded by the number of groups (not the data)
    // — broadcast it so the < pairing plans as BNLJ, never cartesian
    val pairs = groups.select(col("grp").as("ga"))
      .join(broadcast(groups.select(col("grp").as("gb"))),
        col("ga") < col("gb"))
    // pair → member explode → equi-join → max-merge: the union sketch
    // as pure shuffle-on-key relational algebra (no OR-condition join)
    val members = pairs.select(col("ga"), col("gb"),
      explode(array(col("ga"), col("gb"))).as("grp"))
    val uregs = members.join(regs, "grp")
      .groupBy(col("ga"), col("gb"), col("idx"))
      .agg(max(col("reg")).as("reg"))
    val uests = hllRawEstimateBy(uregs, Seq("ga", "gb"))
      .withColumnRenamed("est", "est_u")
    val joined = uests
      .join(ests.select(col("grp").as("ga"), col("est").as("est_a")), "ga")
      .join(ests.select(col("grp").as("gb"), col("est").as("est_b")), "gb")
    val inter = greatest(col("est_a") + col("est_b") - col("est_u"), lit(0.0))
    joined.select(
      col("ga").as("group_a"), col("gb").as("group_b"),
      round(col("est_a"), 2).as("n_a"),
      round(col("est_b"), 2).as("n_b"),
      round(col("est_u"), 2).as("n_union"),
      round(inter, 2).as("n_inter"),
      (floor(inter / col("est_u") * 10000 + lit(0.5)) / lit(10000.0))
        .as("jaccard_est"))
      .orderBy(col("group_a"), col("group_b"))
  }

  // -------------------------------------- log-lattice quantile sketch

  /** The MERGEABLE half of the quantile sketch: fold values into the
    * (event_type, floor-log2 exponent, 16-way linear sub-bin) count
    * lattice (~16·64 integer bins, a fixed ~6% relative-error grid —
    * the HdrHistogram/DDSketch shape). A plain map-side-combinable
    * `groupBy().count()` with CONSTANT state per group, which is also
    * why it streams (micro-batch partials add —
    * [[graft.queries.StreamQueries.q_stream_quantile]] certifies the
    * merge against the batch oracle). `floor(log2 v)` is
    * `length(bin(v)) - 1`: bit-exact in both engines, no libm.
    */
  def quantileSketchBins(evs: DataFrame): DataFrame =
    evs.select(col("event_type"),
        expr("greatest(cast(floor(value * 100 + 0.5) as bigint), 1L)").as("v"))
      .withColumn("e", expr("length(bin(v)) - 1"))
      .withColumn("s", expr("shiftright(v, greatest(e - 4, 0)) & 15"))
      .groupBy(col("event_type"), col("e"), col("s"))
      .agg(count(lit(1)).as("cnt"))

  /** The read-off half: cumulative bin counts → ceil-rank quantile
    * bins → lattice lower edge, all in exact integer arithmetic.
    */
  def quantileSketchRead(spark: SparkSession, bins: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val matBins = Reuse.materialized(
      bins.withColumn("bin_id", col("e") * 16 + col("s")))
    val cum = matBins.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("bin_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pcts = { import spark.implicits._; Seq(50L, 95L, 99L).toDF("pct") }
    val thr = matBins.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
      .crossJoin(broadcast(pcts))
      .select(col("event_type"), col("pct"),
        expr("(n * pct + 99) DIV 100").as("thr"))
    cum.join(broadcast(thr), Seq("event_type"))
      .filter(col("cum") >= col("thr") && col("cum") - col("cnt") < col("thr"))
      .select(col("event_type"), col("pct"),
        expr("cast(case when e >= 4 then shiftleft(16 + s, e - 4) else s end as bigint)")
          .as("est_cents"))
      .orderBy(col("event_type"), col("pct"))
  }

  /** DuckDB oracle for the quantile sketch over `events` — shared by
    * the batch and streaming queries (same result = merge proof).
    */
  val quantileSketchOracleSql: String =
    """WITH vals AS (
      |  SELECT event_type,
      |    GREATEST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), 1) AS v
      |  FROM events),
      |b0 AS (SELECT event_type, v, LENGTH(bin(v)) - 1 AS e FROM vals),
      |b1 AS (
      |  SELECT event_type, e, (v >> GREATEST(e - 4, 0)) & 15 AS s FROM b0),
      |bins AS (
      |  SELECT event_type, e, s, e * 16 + s AS bin_id,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM b1 GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT *, CAST(SUM(cnt) OVER (
      |    PARTITION BY event_type ORDER BY bin_id) AS BIGINT) AS cum
      |  FROM bins),
      |tot AS (
      |  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM bins GROUP BY 1),
      |thr AS (
      |  SELECT t.event_type, p.pct, (t.n * p.pct + 99) // 100 AS thr
      |  FROM tot t CROSS JOIN (SELECT * FROM (VALUES (CAST(50 AS BIGINT)), (CAST(95 AS BIGINT)),
      |    (CAST(99 AS BIGINT))) q(pct)) p)
      |SELECT c.event_type, th.pct,
      |  CAST(CASE WHEN c.e >= 4 THEN (16 + c.s) << (c.e - 4) ELSE c.s END
      |    AS BIGINT) AS est_cents
      |FROM thr th JOIN cum c
      |  ON c.event_type = th.event_type
      | AND c.cum >= th.thr AND c.cum - c.cnt < th.thr
      |ORDER BY c.event_type, th.pct""".stripMargin

  // ------------------------------------------------- count-min sketch

  val CmsD = 4 // hash rows
  val CmsW = 1024 // counters per row

  /** Count-min heavy-hitter estimation over the corpus word stream:
    * build the d×w counter sketch (portable Mersenne-family hashes,
    * pure integer SUMs — order-free by construction), then read back
    * the exact top-`topK` words' estimates as `min` over their d
    * counters. Output: (word, n_exact, n_cms, overestimate), where
    * `n_cms >= n_exact` ALWAYS (the CMS one-sided guarantee — asserted
    * in the spec) and the overestimate is the collision mass the
    * d·w sketch admits at this stream size.
    *
    * Scale shape: the sketch table is AT MOST d·w rows regardless of
    * input (partial map-side SUMs; one shuffle of counter partials);
    * the read-back joins the top-k words against d·k counter cells.
    * This is the bounded-memory frequency layer a 100 TB pipeline
    * uses where exact per-token counts would need a vocabulary-sized
    * shuffle.
    */
  def cmsTopWords(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    // The word stream is deliberately NOT materialized even though
    // both the sketch build and the top-k read-back scan it: the
    // exploded words are LARGER than the input corpus, so at 100 TB
    // caching them costs more than the second tokenize pass
    // (measured neutral at bench scale too — the scans, not the
    // tokenize, dominate). The sketch build side explodes primitive
    // hashes (word_hashes), not tokens — only the exact-top-k
    // read-back needs the strings.
    // spread first (round-13): both tokenize+explode passes (sketch
    // build + exact read-back) otherwise run on the single-row-group
    // scan's one task
    val spread = Reuse.spreadToCores(docs.select(col(textCol).as("t")))
    val words = spread.select(
      explode(TextOps.words(col("t"))).as("w"))
    val hashes = spread.select(
      explode(TextOps.wordHashes(col("t"))).as("wh"))
    cmsReadback(cmsSketchFromHashes(hashes), words, topK)
  }

  // per-sketch-row remix of the base word hash with the MinHash a/b
  // family (DedupOps constants) — independent-ish rows. Takes the
  // ALREADY-REDUCED base hash (h0 = wordHash % Mersenne) so callers
  // evaluate the expensive 8-term polynomial ONCE per word, not once
  // per sketch row (4× the per-token cost — measured as the dominant
  // term of the streaming merge cert before this split).
  private def cmsRowIdxFrom(h0: org.apache.spark.sql.Column, d: Int): org.apache.spark.sql.Column =
    ((lit(DedupOps.hashA(d)) * h0 + lit(DedupOps.hashB(d))) % Mersenne) % CmsW

  private def cmsRowIdx(d: Int): org.apache.spark.sql.Column =
    cmsRowIdxFrom(TextOps.wordHash(col("w")) % Mersenne, d)

  /** The MERGEABLE half of the CMS: the d×w counter table as a plain
    * `groupBy().count()` over the per-word cells — integer sums, so
    * micro-batch partials add to the same sketch
    * ([[graft.queries.StreamQueries.q_stream_cms]] certifies this
    * against the batch oracle). Input: the RAW per-token hashes (`wh`
    * long column — the [[TextOps.wordHashes]] explode), the form
    * streaming and batch builds share. Each of the d cells is a cheap
    * 3-op remix of the base hash, and the partial aggregation folds the
    * exploded cells to ≤ d·w rows per partition before any shuffle (or
    * state store) sees them.
    */
  def cmsSketchFromHashes(hashes: DataFrame): DataFrame = {
    val withH = hashes.select((col("wh") % Mersenne).as("h0"))
    val cells = (0 until CmsD).map(d =>
      struct(lit(d).as("d"), cmsRowIdxFrom(col("h0"), d).as("idx")))
    withH
      .select(explode(array(cells: _*)).as("c"))
      .groupBy(col("c.d").as("d"), col("c.idx").as("idx"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The read-back half: exact top-`topK` words probed against their
    * d counter cells, `min` over counters = the CMS estimate.
    */
  def cmsReadback(sketch: DataFrame, words: DataFrame, topK: Int): DataFrame = {
    val exactTop = words.groupBy(col("w"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("w"))
      .limit(topK)
    val probes = exactTop.select(col("w"), col("n_exact"),
      explode(array((0 until CmsD).map(d =>
        struct(lit(d).as("d"), cmsRowIdx(d).as("idx"))): _*)).as("c"))
      .select(col("w"), col("n_exact"), col("c.d"), col("c.idx"))
    probes.join(sketch, Seq("d", "idx"))
      .groupBy(col("w"), col("n_exact"))
      .agg(min(col("cnt")).as("n_cms"))
      .select(col("w"), col("n_exact"), col("n_cms"),
        (col("n_cms") - col("n_exact")).as("overestimate"))
  }

  /** DuckDB oracle for [[cmsTopWords]] over `documents`. */
  def cmsTopWordsOracleSql(topK: Int): String = {
    val h0 = s"(${TextOps.wordHashSql("w")}) % $Mersenne"
    def rowIdx(d: Int) =
      s"((${DedupOps.hashA(d)} * h0 + ${DedupOps.hashB(d)}) % $Mersenne) % $CmsW"
    val cellRows = (0 until CmsD).map(d =>
      s"SELECT $d AS d, ${rowIdx(d)} AS idx FROM wh").mkString("\n  UNION ALL ")
    val probeRows = (0 until CmsD).map(d =>
      s"SELECT w, n_exact, $d AS d, ${rowIdx(d)} AS idx FROM topw")
      .mkString("\n  UNION ALL ")
    s"""WITH wordsx AS (
       |  SELECT unnest(${TextOps.wordsSql("text")}) AS w FROM documents),
       |wh AS (SELECT w, $h0 AS h0 FROM wordsx),
       |cells AS (
       |  $cellRows),
       |sketch AS (
       |  SELECT d, idx, COUNT(*) AS cnt FROM cells GROUP BY d, idx),
       |topw AS (
       |  SELECT w, h0, COUNT(*) AS n_exact FROM wh GROUP BY w, h0
       |  ORDER BY n_exact DESC, w LIMIT $topK),
       |probes AS (
       |  $probeRows)
       |SELECT p.w, p.n_exact, MIN(s.cnt) AS n_cms,
       |  MIN(s.cnt) - p.n_exact AS overestimate
       |FROM probes p JOIN sketch s ON s.d = p.d AND s.idx = p.idx
       |GROUP BY p.w, p.n_exact
       |ORDER BY p.n_exact DESC, p.w""".stripMargin
  }

  /** The shared oracle estimator over a `sums` row (columns `s`,
    * `zeros`): raw HLL with the linear-counting branch. The ln(m/V)
    * lookup is rendered from the SAME `math.log` run the engine
    * embeds; `Double.toString` round-trips, so both engines hold
    * bit-identical constants.
    */
  private lazy val hllEstSql: String = {
    val twoScale = 1L << Scale
    val estRaw = s"(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) " +
      s"+ CAST(1.079 AS DOUBLE) / CAST(${M.toDouble} AS DOUBLE))) " +
      s"* CAST(${M.toDouble * M.toDouble} AS DOUBLE) " +
      s"* CAST($twoScale AS DOUBLE) / CAST(s AS DOUBLE)"
    val lnList = (1 to M)
      .map(v => s"CAST('${math.log(M.toDouble / v)}' AS DOUBLE)")
      .mkString("[", ", ", "]")
    s"CASE WHEN zeros > 0 AND ($estRaw) <= CAST(${2.5 * M} AS DOUBLE) " +
      s"THEN CAST(${M.toDouble} AS DOUBLE) * ($lnList)[CAST(zeros AS INT)] " +
      s"ELSE $estRaw END"
  }

  /** The shared oracle CTE chain `mixed → hashed → regs → sums` over a
    * prior CTE exposing (grp, kstr VARCHAR) — kstr non-null.
    */
  private def hllSumsCtesSql(srcCte: String): String = {
    val h0 = TextOps.polyHashSql("substr(md5(kstr), 1, 8)", 8)
    val twoScale = 1L << Scale
    s"""mixed AS (
       |  SELECT grp,
       |    ($MixA * (($h0) % $Mersenne) + $MixB) % $Mersenne AS h
       |  FROM $srcCte),
       |hashed AS (
       |  SELECT grp, h % $M AS idx, CAST(FLOOR(h / $M) AS BIGINT) AS rest
       |  FROM mixed),
       |regs AS (
       |  SELECT grp, idx,
       |    MAX(CASE WHEN rest = 0 THEN ${W + 1}
       |        ELSE ${W + 1} - length(bin(rest)) END) AS reg
       |  FROM hashed GROUP BY grp, idx),
       |sums AS (
       |  SELECT grp,
       |    CAST(SUM(CAST(1 AS BIGINT) << ($Scale - reg)) AS BIGINT)
       |      + ($M - COUNT(*)) * $twoScale AS s,
       |    $M - COUNT(*) AS zeros
       |  FROM regs GROUP BY grp)""".stripMargin
  }

  /** DuckDB oracle for [[hllDistinct]]. */
  def hllDistinctOracleSql(table: String, groupCol: String, keyCol: String): String =
    s"""WITH src AS (
       |  SELECT $groupCol AS grp, CAST($keyCol AS VARCHAR) AS kstr
       |  FROM $table),
       |${hllSumsCtesSql("src")},
       |exact AS (
       |  SELECT $groupCol AS grp, COUNT(DISTINCT $keyCol) AS n_exact
       |  FROM $table GROUP BY 1)
       |SELECT s.grp AS $groupCol, e.n_exact,
       |  ROUND($hllEstSql, 2) AS n_hll,
       |  ROUND(ABS($hllEstSql - CAST(e.n_exact AS DOUBLE))
       |    / CAST(e.n_exact AS DOUBLE), 4) AS rel_err
       |FROM sums s JOIN exact e ON e.grp = s.grp
       |ORDER BY 1""".stripMargin

  /** DuckDB oracle for [[hllOverlap]]. `prelude` is a CTE list (no
    * leading WITH) whose last CTE must expose `src(grp, kstr)` with
    * kstr a non-null VARCHAR rendering of the key — the same contract
    * [[hllSumsCtesSql]] replays. The union sketch is re-derived from
    * the SAME `regs` CTE the per-group estimates read, so engine and
    * oracle agree bit-for-bit through the whole inclusion–exclusion
    * chain.
    */
  def hllOverlapOracleSql(prelude: String): String = {
    val twoScale = 1L << Scale
    s"""WITH $prelude,
       |${hllSumsCtesSql("src")},
       |ests AS (SELECT grp, $hllEstSql AS est FROM sums),
       |grps AS (SELECT DISTINCT grp FROM src),
       |pairs AS (
       |  SELECT a.grp AS ga, b.grp AS gb
       |  FROM grps a JOIN grps b ON a.grp < b.grp),
       |uregs AS (
       |  SELECT p.ga, p.gb, r.idx, MAX(r.reg) AS reg
       |  FROM pairs p JOIN regs r ON r.grp = p.ga OR r.grp = p.gb
       |  GROUP BY 1, 2, 3),
       |usums AS (
       |  SELECT ga, gb,
       |    CAST(SUM(CAST(1 AS BIGINT) << ($Scale - reg)) AS BIGINT)
       |      + ($M - COUNT(*)) * $twoScale AS s,
       |    $M - COUNT(*) AS zeros
       |  FROM uregs GROUP BY ga, gb),
       |uests AS (SELECT ga, gb, $hllEstSql AS est_u FROM usums)
       |SELECT u.ga AS group_a, u.gb AS group_b,
       |  ROUND(ea.est, 2) AS n_a, ROUND(eb.est, 2) AS n_b,
       |  ROUND(u.est_u, 2) AS n_union,
       |  ROUND(GREATEST(ea.est + eb.est - u.est_u, CAST(0 AS DOUBLE)), 2)
       |    AS n_inter,
       |  FLOOR(GREATEST(ea.est + eb.est - u.est_u, CAST(0 AS DOUBLE))
       |      / u.est_u * 10000 + 0.5) / 10000.0 AS jaccard_est
       |FROM uests u
       |JOIN ests ea ON ea.grp = u.ga
       |JOIN ests eb ON eb.grp = u.gb
       |ORDER BY 1, 2""".stripMargin
  }

  /** DuckDB oracle for the SKETCH table profiler
    * ([[graft.queries.ScaleQueries.q_table_profile_sketch]]): per
    * column `(name, canonical-VARCHAR expr)`, exact rows/nulls next to
    * the HLL distinct estimate — no exact COUNT(DISTINCT) anywhere.
    */
  def hllProfileOracleSql(table: String, cols: Seq[(String, String)]): String = {
    val stacked = cols.map { case (n, e) =>
      s"  SELECT '$n' AS grp, $e AS kv FROM $table"
    }.mkString("\n  UNION ALL\n")
    s"""WITH stacked AS (
       |$stacked),
       |counts AS (
       |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(COALESCE(SUM(CASE WHEN kv IS NULL THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS n_nulls
       |  FROM stacked GROUP BY 1),
       |src AS (
       |  SELECT grp, kv AS kstr FROM stacked WHERE kv IS NOT NULL),
       |${hllSumsCtesSql("src")},
       |est AS (
       |  SELECT grp, ROUND($hllEstSql, 2) AS n_hll FROM sums)
       |SELECT c.grp AS col_name, c.n_rows, c.n_nulls,
       |  COALESCE(e.n_hll, CAST(0.0 AS DOUBLE)) AS n_hll
       |FROM counts c LEFT JOIN est e ON e.grp = c.grp
       |ORDER BY col_name""".stripMargin
  }
}
