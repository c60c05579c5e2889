package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Top-principal-component extraction over an embedding column via the
  * fixed-iteration power method — the preprocessing step every
  * production vector pipeline runs before OPQ rotation, dimension
  * truncation, or whitening (the reference stores raw MiniLM vectors,
  * `embedding_consumer.py:94`; at 100 TB the index build wants the
  * energy-compacting basis first).
  *
  * Determinism contract (the repo's float policy, same as
  * [[ClusterOps.kmeansLloyd]]): the mean vector and every iterate are
  * floor-quantized to the 1e-6 grid, the start vector is the constant
  * `quant(1/sqrt(dim))`, and exactly `iters` multiply-normalize rounds
  * run — so the DuckDB oracle replays the identical trajectory as an
  * unrolled CTE chain and the certified outputs (per-vector PC1 score,
  * eigenvalue, variance-explained) compare exactly.
  *
  * Scale posture: per iteration ONE map-only pass over the cached
  * centered vectors feeding a single-row aggregate of `dim` partial
  * sums (map-side combine; no shuffle of row data, the exchange carries
  * one row per partition). Driver state is O(dim) per iteration — the
  * same bounded-collect class as PageRank's scalar mass fold. The final
  * projection is a map-only codegen dot product. Nothing here grows
  * with row count except the scans.
  */
object PcaOps {

  private def quant(v: Double): Double = Reuse.quantMicro(v)

  /** (mean, component) for the top PC — both 1e-6-quantized, `dim`
    * doubles each. `iters` fixed multiply-normalize rounds from the
    * constant start vector.
    */
  def topComponent(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int): (Array[Double], Array[Double]) = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val x = emb
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("x"))
    val (xc, cache) = Reuse.materializedHandle(x)
    try {
      val muRow = xc.agg(
        avg(element_at(col("x"), 1)),
        (2 to dim).map(j => avg(element_at(col("x"), j))): _*).head()
      val mu = Array.tabulate(dim)(j => quant(muRow.getDouble(j)))
      val muLit = array(mu.map(lit).toIndexedSeq: _*)

      var v = Array.fill(dim)(quant(1.0 / math.sqrt(dim.toDouble)))
      for (_ <- 1 to iters) {
        val scored = withV(centered(xc, muLit), v)
          .withColumn("s", expr("dot_product(c, v)"))
        val wRow = scored.agg(
          sum(col("s") * element_at(col("c"), 1)),
          (2 to dim).map(j => sum(col("s") * element_at(col("c"), j))): _*)
          .head()
        val w = Array.tabulate(dim)(wRow.getDouble)
        val norm = math.sqrt(w.map(wj => wj * wj).sum)
        require(norm > 0,
          "power iterate collapsed to zero norm — the centered corpus is " +
            "all-zero/constant (no principal direction exists)")
        v = w.map(wj => quant(wj / norm))
      }
      (mu, v)
    } finally cache.close()
  }

  /** Centered vectors with the CURRENT iterate attached as a literal
    * array column `v` (so `dot_product(c, v)` stays a codegen'd
    * left-to-right fold — the exact summation order the oracle's
    * per-id SUM replays up to sub-grid noise).
    */
  private def centered(x: DataFrame, muLit: Column): DataFrame =
    x.select(col("id"),
      zip_with(col("x"), muLit, (a, b) => a - b).as("c"))

  private def withV(c: DataFrame, v: Array[Double]): DataFrame =
    c.withColumn("v", array(v.map(lit).toIndexedSeq: _*))

  /** Per-vector PC1 score (the projection onto the top component),
    * 1e-6-quantized. Map-only once (mean, component) are known.
    */
  def project(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int): DataFrame = {
    val (mu, v) = topComponent(emb, idCol, vecCol, dim, iters)
    val x = emb
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("x"))
    val proj = withV(centered(x, array(mu.map(lit).toIndexedSeq: _*)), v)
      .withColumn("s", expr("dot_product(c, v)"))
    proj.select(col("id").as("vec_id"),
      (floor(col("s") * 1000000 + 0.5) / 1000000.0).as("pc1"))
  }

  /** One-row spectrum summary: leading eigenvalue (Rayleigh quotient of
    * the final iterate), total variance (trace of the covariance), and
    * the explained-variance ratio — all on the (n-1) denominator, all
    * 1e-6-quantized, the ratio computed FROM the quantized pair so the
    * oracle's nested FLOOR reproduces it exactly.
    */
  def varianceSummary(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int): DataFrame = {
    val (mu, v) = topComponent(emb, idCol, vecCol, dim, iters)
    varianceWith(emb, idCol, vecCol, dim, mu, v)
  }

  /** The one-pass tail of [[varianceSummary]] against a KNOWN
    * (mean, component) — shares a memoized fit with [[projectWith]]. */
  def varianceWith(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      mu: Array[Double], v: Array[Double]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val x = emb
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("x"))
    val c = withV(centered(x, array(mu.map(lit).toIndexedSeq: _*)), v)
      .withColumn("s", expr("dot_product(c, v)"))
    val row = c.agg(
      sum(col("s") * col("s")),
      sum(expr("dot_product(c, c)")),
      count(lit(1))).head()
    val n = row.getLong(2)
    require(n > 1,
      s"variance needs at least 2 vectors after the dim filter, got $n")
    val lambda = quant(row.getDouble(0) / (n - 1).toDouble)
    val total = quant(row.getDouble(1) / (n - 1).toDouble)
    val ratio = quant(lambda / total)
    Seq((n, lambda, total, ratio))
      .toDF("n_vectors", "lambda1", "total_var", "var_ratio")
  }

  /** Top-m components by deflated power iteration: each component runs
    * the same quantized multiply-normalize trajectory, with the
    * iterate PARALLEL-orthogonalized against every already-found
    * component each round — classical Gram–Schmidt on the O(dim)
    * driver state, applied TWICE per round with per-component axis
    * starts (round-13: a single pass against the 1e-6-quantized basis
    * plus the shared uniform start collapsed all late components at
    * m=64 — see the in-loop comments; subtractions fold left-to-right
    * so the oracle's `w - d0*v0 - d1*v1 - …` expression replays the
    * exact arithmetic).
    * Scale posture is unchanged from [[topComponent]]: m·iters map-only
    * passes, each feeding a dim-bounded single-row aggregate; at deploy
    * scale the basis is fitted on a bounded sample and applied to the
    * full corpus — fitting IS a sampling-tolerant estimation step,
    * the transform is the exact map-only pass.
    */
  def topComponents(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int, m: Int): (Array[Double], Array[Array[Double]]) = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val x = emb
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("x"))
    val (xc, cache) = Reuse.materializedHandle(x)
    try {
      val muRow = xc.agg(
        avg(element_at(col("x"), 1)),
        (2 to dim).map(j => avg(element_at(col("x"), j))): _*).head()
      val mu = Array.tabulate(dim)(j => quant(muRow.getDouble(j)))
      val muLit = array(mu.map(lit).toIndexedSeq: _*)

      val comps = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      for (t <- 0 until m) {
        // Per-component start (round-13): component 0 keeps the uniform
        // start (preserving every single-component trajectory); later
        // components start from the axis vector e_{t mod dim}. The
        // shared uniform start's mass inside the residual subspace
        // VANISHES as t grows — measured at m=64: the true residual of
        // the iterate fell below the ~t·1e-6 Gram–Schmidt leakage floor
        // (from the quantized basis) and all late components collapsed
        // onto span(earlier) with |<vi,vj>| ≈ 1 (tmp/probeann_r13b.log's
        // 0.064 rotation-sanity row; `Probe ann`'s SANITY row). Axis
        // starts keep the residual mass O(1) at every t.
        var v =
          if (t == 0) Array.fill(dim)(quant(1.0 / math.sqrt(dim.toDouble)))
          else Array.tabulate(dim)(j => if (j == t % dim) 1.0 else 0.0)
        for (_ <- 1 to iters) {
          val scored = withV(centered(xc, muLit), v)
            .withColumn("s", expr("dot_product(c, v)"))
          val wRow = scored.agg(
            sum(col("s") * element_at(col("c"), 1)),
            (2 to dim).map(j => sum(col("s") * element_at(col("c"), j))): _*)
            .head()
          val w = Array.tabulate(dim)(wRow.getDouble)
          // Gram–Schmidt, applied TWICE (Kahan/Parlett "twice is
          // enough" — round-13): within a pass all projections are
          // taken against the pass's incoming iterate, then subtracted
          // left-to-right in component order (the oracle's
          // `w - d0*v0 - d1*v1 - …` replays the exact arithmetic). One
          // pass against a 1e-6-quantized basis leaves ~t·1e-6 of
          // span(comps) leakage — fatal when the true residual is
          // smaller (the m=64 collapse above); the second pass knocks
          // the leakage down to second order regardless of conditioning.
          var wo = w
          val gsPasses = if (comps.isEmpty) 0 else 2
          for (_ <- 1 to gsPasses) {
            val cur = wo
            val dots = comps.map(p => (0 until dim).map(j => cur(j) * p(j)).sum)
            wo = Array.tabulate(dim) { j =>
              comps.zip(dots).foldLeft(cur(j)) { case (acc, (p, d)) => acc - d * p(j) }
            }
          }
          val norm = math.sqrt(wo.map(wj => wj * wj).sum)
          require(norm > 0,
            s"deflated power iterate collapsed to zero norm at component " +
              s"${comps.size + 1} — corpus rank is below the requested m")
          v = wo.map(wj => quant(wj / norm))
        }
        comps += v
      }
      (mu, comps.toArray)
    } finally cache.close()
  }

  /** Per-vector projections onto the top-m basis — the
    * dimensionality-reduction transform (columns pc1..pcm, each
    * 1e-6-quantized). Map-only once the basis is known.
    */
  def transform(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int, m: Int): DataFrame = {
    val (mu, comps) = topComponents(emb, idCol, vecCol, dim, iters, m)
    transformWith(emb, idCol, vecCol, dim, mu, comps)
  }

  /** The map-only tail of [[transform]] against a KNOWN (mean, basis) —
    * lets one fitted basis serve every downstream consumer (the
    * transform, the outlier scorer, a whitening pass) without refitting.
    */
  def transformWith(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      mu: Array[Double], comps: Array[Array[Double]]): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val x = emb
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("x"))
    val c = centered(x, array(mu.map(lit).toIndexedSeq: _*))
    val projCols = comps.zipWithIndex.map { case (v, t) =>
      val vLit = array(v.map(lit).toIndexedSeq: _*)
      (floor(expr("dot_product(c, v" + t + ")") * 1000000 + 0.5) / 1000000.0)
        .as(s"pc${t + 1}")
    }
    val withVs = comps.zipWithIndex.foldLeft(c) { case (df, (v, t)) =>
      df.withColumn("v" + t, array(v.map(lit).toIndexedSeq: _*))
    }
    withVs.select(col("id").as("vec_id") +: projCols.toIndexedSeq: _*)
  }

  /** Shared deflated-trajectory CTE block (everything up to the
    * per-(id, component) quantized projections `p(id, t, pc)`): the
    * single-component trajectory chain repeated per component with the
    * parallel Gram–Schmidt correction CTE (`o{t}_{k}`) between multiply
    * and normalize. Used by [[transformOracleSql]] and
    * [[outlierOracleSql]].
    */
  private def deflatedCtes(dim: Int, iters: Int, m: Int,
      centerProj: Boolean = true): String = {
    def q(e: String) = s"FLOOR(($e)*1000000+0.5)/1000000.0"
    val v0 = java.lang.Double.toString(quant(1.0 / math.sqrt(dim.toDouble)))
    val chains = (0 until m).map { t =>
      val rounds = (1 to iters).map { k =>
        // Gram–Schmidt TWICE (mirrors topComponents' round-13 fix):
        // pass a takes all projections against the raw iterate w and
        // subtracts left-to-right; pass b repeats against pass a's
        // output. Both passes read the same `- (Σ src·vfp)·vfp` shape
        // so the engine's foldLeft arithmetic replays exactly.
        def gsPass(src: String, out: String): String = {
          val subs = (0 until t).map { p =>
            s"- (SELECT SUM(w2.w * v.vv) FROM $src w2 JOIN vf$p v USING (idx)) * a$p.vv"
          }.mkString(" ")
          val joins = (0 until t).map(p => s"JOIN vf$p a$p USING (idx)").mkString(" ")
          s"""$out AS MATERIALIZED (
             |  SELECT w.idx, w.w $subs AS w FROM $src w $joins)""".stripMargin
        }
        val ortho =
          if (t == 0) s"o${t}_$k AS MATERIALIZED (SELECT idx, w FROM w${t}_$k)"
          else gsPass(s"w${t}_$k", s"oa${t}_$k") + ",\n" +
            gsPass(s"oa${t}_$k", s"o${t}_$k")
        s"""s${t}_$k AS MATERIALIZED (SELECT id, SUM(cv * vv) AS s
           |  FROM c JOIN v${t}_${k - 1} USING (idx) GROUP BY id),
           |w${t}_$k AS MATERIALIZED (SELECT c.idx, SUM(cv * s) AS w
           |  FROM c JOIN s${t}_$k USING (id) GROUP BY c.idx),
           |$ortho,
           |v${t}_$k AS MATERIALIZED (
           |  SELECT idx, ${q(s"w / sqrt((SELECT SUM(w*w) FROM o${t}_$k))")} AS vv
           |  FROM o${t}_$k)""".stripMargin
      }.mkString(",\n")
      // per-component start (mirrors topComponents): uniform for
      // component 0, axis vector e_{t mod dim} after — 1-based idx
      val startExpr =
        if (t == 0) v0
        else s"CASE WHEN idx = ${(t % dim) + 1} THEN 1.0 ELSE 0.0 END"
      s"""v${t}_0 AS MATERIALIZED (SELECT idx, $startExpr AS vv FROM mu),
         |$rounds,
         |vf$t AS MATERIALIZED (SELECT idx, vv FROM v${t}_$iters)""".stripMargin
    }.mkString(",\n")
    val vfall = (0 until m)
      .map(t => s"SELECT $t AS t, idx, vv FROM vf$t")
      .mkString(" UNION ALL ")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
       |    unnest(range(1, len(embedding)+1)) AS idx
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |mu AS MATERIALIZED (SELECT idx, ${q("AVG(val)")} AS m FROM e GROUP BY idx),
       |c AS MATERIALIZED (
       |  SELECT id, e.idx, val - m AS cv FROM e JOIN mu USING (idx)),
       |$chains,
       |vfall AS MATERIALIZED ($vfall),
       |p AS MATERIALIZED (
       |  ${if (centerProj)
            s"""SELECT c.id, v.t, ${q("SUM(c.cv * v.vv)")} AS pc
               |  FROM c JOIN vfall v USING (idx) GROUP BY c.id, v.t"""
                .stripMargin
          else
            s"""SELECT e.id, v.t, ${q("SUM(e.val * v.vv)")} AS pc
               |  FROM e JOIN vfall v USING (idx) GROUP BY e.id, v.t"""
                .stripMargin})""".stripMargin
  }

  /** Oracle for the UNCENTERED rotation ([[transformWith]] with a zero
    * mean): projections of the RAW vectors onto the deflated basis —
    * the basis itself is still fitted on centered data (that is what
    * decorrelation wants), but a pure orthonormal rotation preserves
    * raw-space cosine exactly, which a centered projection does not
    * when the corpus mean is non-zero (the OPQ serving contract). */
  def rotateOracleSql(dim: Int, iters: Int, m: Int): String = {
    val outCols = (0 until m).map { t =>
      s"MAX(CASE WHEN t = $t THEN pc END) AS pc${t + 1}"
    }.mkString(",\n  ")
    s"""WITH ${deflatedCtes(dim, iters, m, centerProj = false)}
       |SELECT id AS vec_id,
       |  $outCols
       |FROM p GROUP BY id ORDER BY vec_id""".stripMargin
  }

  /** Oracle for [[transform]]: pivot the shared deflated projections
    * into pc1..pcm columns. */
  def transformOracleSql(dim: Int, iters: Int, m: Int): String = {
    val outCols = (0 until m).map { t =>
      s"MAX(CASE WHEN t = $t THEN pc END) AS pc${t + 1}"
    }.mkString(",\n  ")
    s"""WITH ${deflatedCtes(dim, iters, m)}
       |SELECT id AS vec_id,
       |  $outCols
       |FROM p GROUP BY id ORDER BY vec_id""".stripMargin
  }

  /** Oracle for the SUBSPACE Mahalanobis outlier score
    * (q_embed_outliers_pca): projections from the shared deflated
    * trajectory move onto the integer micro lattice
    * (`pcm = FLOOR(pc·1e6+0.5)`), per-component eigenvalues in micro
    * units by exact integer arithmetic
    * (`lam_micro = Σpcm² // ((n−1)·1e6)`), and the score decomposes as
    * z2_micro = Σ_t pcm_t²//lam_t (standardized in-subspace energy) +
    * resid_micro = e2m − Σ_t pcm_t²//1e6 (off-subspace residual) —
    * every division on nonnegative integers, so DuckDB `//` and Spark
    * `div` agree exactly.
    */
  def outlierOracleSql(dim: Int, iters: Int, m: Int): String =
    s"""WITH ${deflatedCtes(dim, iters, m)},
       |pm AS MATERIALIZED (
       |  SELECT id, t, CAST(FLOOR(pc*1000000+0.5) AS BIGINT) AS pcm FROM p),
       |nn AS (SELECT COUNT(*) AS n FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |lam AS (
       |  SELECT t, CAST(SUM(pcm*pcm)
       |    // (((SELECT n FROM nn) - 1) * 1000000) AS BIGINT) AS lam_micro
       |  FROM pm GROUP BY t),
       |e2 AS (
       |  SELECT id, CAST(FLOOR(SUM(cv*cv)*1000000+0.5) AS BIGINT) AS e2m
       |  FROM c GROUP BY id),
       |z AS (
       |  SELECT pm.id,
       |    CAST(SUM((pcm*pcm) // lam_micro) AS BIGINT) AS z2_micro,
       |    CAST(SUM((pcm*pcm) // 1000000) AS BIGINT) AS spent
       |  FROM pm JOIN lam USING (t) GROUP BY pm.id)
       |SELECT z.id AS vec_id, z2_micro,
       |  e2m - spent AS resid_micro,
       |  z2_micro + e2m - spent AS score_micro
       |FROM z JOIN e2 ON e2.id = z.id ORDER BY vec_id""".stripMargin

  /** SUBSPACE Mahalanobis outlier scoring (round-8 verdict item 3):
    * T185's diagonal z-scores are blind to CORRELATED corruption — a
    * degenerate embedding that moves along a principal direction looks
    * normal per-dim. Here each vector is projected onto the certified
    * deflated top-m basis ([[topComponents]]), standardized by the
    * PER-COMPONENT eigenvalue, and scored as in-subspace ‖z‖² PLUS the
    * off-subspace residual energy (‖c‖² − Σs²) — correlated outliers
    * light up the z-terms, rank-deficient/garbage vectors light up the
    * residual. Determinism: projections and per-vector energy move onto
    * the integer micro lattice (`FLOOR(x·1e6+0.5)` as long) BEFORE any
    * aggregation, eigenvalues are exact integer `Σpcm² div ((n−1)·1e6)`,
    * and all divisions are nonnegative-integer `div` — bit-identical to
    * the oracle's `//`. Scale: the fit is m·iters map-only passes
    * (the [[topComponents]] posture); scoring is ONE map-only pass plus
    * one m-value single-row aggregate for the eigenvalues.
    */
  def subspaceOutliers(
      emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int, m: Int): DataFrame = {
    val (mu, comps) = topComponents(emb, idCol, vecCol, dim, iters, m)
    scoreSubspace(emb, idCol, vecCol, dim, mu, comps)
  }

  /** The scoring tail of [[subspaceOutliers]] against a KNOWN
    * (mean, basis) — shared with the streaming-moments path
    * (q_stream_outliers_pca), which derives the identical quantized
    * basis from merged micro-batch moments instead of data passes.
    */
  def scoreSubspace(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      mu: Array[Double], comps: Array[Array[Double]]): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val x = emb
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("x"))
    val c = centered(x, array(mu.map(lit).toIndexedSeq: _*))
    val withVs = comps.zipWithIndex.foldLeft(c) { case (df, (v, t)) =>
      df.withColumn("v" + t, array(v.map(lit).toIndexedSeq: _*))
    }
    val pcm = withVs.select(
      col("id") +:
        floor(expr("dot_product(c, c)") * 1000000 + 0.5)
          .cast("long").as("e2m") +:
        comps.indices.map(t =>
          floor(expr(s"dot_product(c, v$t)") * 1000000 + 0.5)
            .cast("long").as(s"pcm$t")).toIndexedSeq: _*)
    // two consumers (eigenvalue aggregate + scoring pass) — materialize
    // once; released by the engine's between-queries cache sweep
    val pcmC = Reuse.materialized(pcm)
    // Σpcm² accumulates as DECIMAL(38,0), not LongType (round-9 advice):
    // a long sum wraps SILENTLY under non-ANSI mode once n·pcm² passes
    // 2⁶³ (pcm is ~1e6–1e8 per component on unit-norm embeddings, so a
    // ~1e9-row corpus is enough), while the DuckDB oracle raises —
    // silent wrong eigenvalues where the oracle errors. decimal(19,0)
    // holds any long exactly; the product is decimal(38,0) (≤8.5e37,
    // exact for any pcm pair) and the sum has 1e38 of headroom. Below
    // the old bound the BigInteger division is bit-identical to the
    // long division, so certified results are unchanged.
    val aggRow = pcmC.agg(count(lit(1)),
      comps.indices.map(t =>
        sum(col(s"pcm$t").cast("decimal(19,0)") *
          col(s"pcm$t").cast("decimal(19,0)"))) ++
        // per-row overflow guard for the scoring pass below: z2/spent
        // square pcm in LongType per ROW (oracle parity — DuckDB's
        // per-row BIGINT does the same), sound only while pcm² < 2⁶³
        comps.indices.map(t => max(abs(col(s"pcm$t")))): _*).head()
    val n = aggRow.getLong(0)
    require(n > 1, s"outlier scoring needs at least 2 vectors, got $n")
    val maxAbsPcm = comps.indices
      .map(t => aggRow.getLong(1 + comps.length + t)).max
    require(maxAbsPcm <= 3037000499L, // floor(sqrt(2^63 - 1))
      s"per-row pcm² would overflow Int64 (max |pcm| = $maxAbsPcm): " +
        "rescale the embeddings before outlier scoring")
    val denom = java.math.BigInteger.valueOf(n - 1)
      .multiply(java.math.BigInteger.valueOf(1000000L))
    val lamMicro = comps.indices.map { t =>
      val lam = aggRow.getDecimal(1 + t).toBigInteger.divide(denom)
      require(lam.bitLength < 63,
        s"component ${t + 1} eigenvalue overflows Int64 in micro units " +
          s"($lam): rescale the embeddings before outlier scoring")
      lam.longValueExact
    }
    lamMicro.zipWithIndex.foreach { case (l, t) =>
      require(l > 0, s"component ${t + 1} eigenvalue is 0 in micro units — " +
        "subspace standardization undefined (corpus variance below 1e-6)")
    }
    val z2 = comps.indices
      .map(t => expr(s"(pcm$t * pcm$t) div ${lamMicro(t)}")).reduce(_ + _)
    val spent = comps.indices
      .map(t => expr(s"(pcm$t * pcm$t) div 1000000")).reduce(_ + _)
    pcmC.select(col("id").as("vec_id"),
      z2.as("z2_micro"),
      (col("e2m") - spent).as("resid_micro"),
      (z2 + col("e2m") - spent).as("score_micro"))
  }

  /** Top-m deflated basis re-derived from MERGED RAW MOMENTS — the
    * multi-component generalization of [[componentFromMoments]]: the
    * same centered second-moment regrouping `C'·v`, with the parallel
    * Gram–Schmidt correction applied to the RAW iterate each round in
    * EXACTLY [[topComponents]]' driver arithmetic (projections against
    * all found components first, subtractions folded left-to-right in
    * component order) — so the moments-derived basis matches the batch
    * basis under the same 1e-6 absorption class, and the streaming
    * outlier scorer certifies against the identical oracle as the
    * batch one. Same boundary-proximity caveat as
    * [[componentFromMoments]]; PcaOpsSpec pins equality on the bench
    * corpus.
    */
  def componentsFromMoments(
      n: Long, sx: Array[Double], sxx: Array[Array[Double]],
      dim: Int, iters: Int, m: Int): (Array[Double], Array[Array[Double]]) = {
    require(n > 1, s"moments-derived basis needs n > 1 vectors, got $n")
    val mu = sx.map(s => quant(s / n.toDouble))
    val cp = Array.tabulate(dim, dim) { (j, k) =>
      sxx(j)(k) - mu(j) * sx(k) - mu(k) * sx(j) + n.toDouble * mu(j) * mu(k)
    }
    val comps = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    for (t <- 0 until m) {
      // mirrors topComponents' round-13 fix exactly: axis starts for
      // t > 0 and double Gram–Schmidt (see the batch path's comments)
      var v =
        if (t == 0) Array.fill(dim)(quant(1.0 / math.sqrt(dim.toDouble)))
        else Array.tabulate(dim)(j => if (j == t % dim) 1.0 else 0.0)
      for (_ <- 1 to iters) {
        val w = Array.tabulate(dim)(j =>
          (0 until dim).foldLeft(0.0)((acc, k) => acc + cp(j)(k) * v(k)))
        var wo = w
        val gsPasses = if (comps.isEmpty) 0 else 2
        for (_ <- 1 to gsPasses) {
          val cur = wo
          val dots = comps.map(p => (0 until dim).map(j => cur(j) * p(j)).sum)
          wo = Array.tabulate(dim) { j =>
            comps.zip(dots).foldLeft(cur(j)) { case (acc, (p, d)) => acc - d * p(j) }
          }
        }
        val norm = math.sqrt(wo.map(wj => wj * wj).sum)
        require(norm > 0,
          s"moments-derived deflated iterate collapsed to zero norm at " +
            s"component ${comps.size + 1} — moments describe a corpus of " +
            s"rank below the requested m")
        v = wo.map(wj => quant(wj / norm))
      }
      comps += v
    }
    (mu, comps.toArray)
  }

  /** The power trajectory re-derived from MERGED RAW MOMENTS
    * (n, Σx, Σxxᵀ) instead of data passes — the continuous-ingest form:
    * each micro-batch contributes its moments (a d²+d+1-value MONOID),
    * and the centered matrix-vector product the batch path computes as
    * `Σ_rows c·(c·v)` is algebraically `C'·v` with
    * `C'_jk = S_jk − mu_j·Sx_k − mu_k·Sx_j + n·mu_j·mu_k` (mu the
    * 1e-6-quantized mean, exactly as the batch path quantizes it). The
    * two associations differ only in float summation grouping
    * (~1e-13 relative), which the per-round 1e-6 quantization absorbs —
    * the SAME determinism class the engine/oracle pair already rides —
    * so the moments-derived component certifies against the identical
    * DuckDB oracle as the batch trajectory.
    *
    * BOUNDARY-PROXIMITY ASSUMPTION (probabilistic, not structural): the
    * absorption above holds unless an iterate component lands within
    * ~1e-13 of a round-half-up 1e-6 grid boundary, where the two
    * associations could quantize to ADJACENT grid points and the
    * trajectories diverge. PcaOpsSpec pins the merged-moments
    * trajectory exactly equal to the batch trajectory on the bench
    * corpus (the certified fixture is known-safe); arbitrary corpora
    * carry the measure-zero caveat.
    */
  def componentFromMoments(
      n: Long, sx: Array[Double], sxx: Array[Array[Double]],
      dim: Int, iters: Int): (Array[Double], Array[Double]) = {
    require(n > 1, s"moments-derived component needs n > 1 vectors, got $n")
    val mu = sx.map(s => quant(s / n.toDouble))
    val cp = Array.tabulate(dim, dim) { (j, k) =>
      sxx(j)(k) - mu(j) * sx(k) - mu(k) * sx(j) + n.toDouble * mu(j) * mu(k)
    }
    var v = Array.fill(dim)(quant(1.0 / math.sqrt(dim.toDouble)))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(j =>
        (0 until dim).foldLeft(0.0)((acc, k) => acc + cp(j)(k) * v(k)))
      val norm = math.sqrt(w.map(wj => wj * wj).sum)
      require(norm > 0,
        "moments-derived power iterate collapsed to zero norm — the " +
          "merged moments describe an all-zero/constant corpus")
      v = w.map(wj => quant(wj / norm))
    }
    (mu, v)
  }

  /** Map-only projection of `emb` onto a KNOWN (mean, component) —
    * the tail of [[project]], shared with the streaming-moments path.
    */
  def projectWith(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      mu: Array[Double], v: Array[Double]): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val x = emb
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("x"))
    withV(centered(x, array(mu.map(lit).toIndexedSeq: _*)), v)
      .withColumn("s", expr("dot_product(c, v)"))
      .select(col("id").as("vec_id"),
        (floor(col("s") * 1000000 + 0.5) / 1000000.0).as("pc1"))
  }

  /** The shared oracle CTE chain: centered values `c(id, idx, cv)` and
    * the unrolled iterates `v0..v{iters}` — DuckDB zips parallel
    * `unnest`s for (val, idx), and each round is score/multiply/
    * normalize with the engine's exact quantization points.
    */
  private def trajectoryCtes(dim: Int, iters: Int): String = {
    def q(e: String) = s"FLOOR(($e)*1000000+0.5)/1000000.0"
    val v0 = java.lang.Double.toString(quant(1.0 / math.sqrt(dim.toDouble)))
    // AS MATERIALIZED: each iterate is referenced twice (w by its own
    // normalizing scalar subquery, v by the next round) — without the
    // hint DuckDB inlines the chain into a 2^iters expression tree
    val rounds = (1 to iters).map { k =>
      s"""s$k AS MATERIALIZED (SELECT id, SUM(cv * vv) AS s
         |  FROM c JOIN v${k - 1} USING (idx) GROUP BY id),
         |w$k AS MATERIALIZED (SELECT c.idx, SUM(cv * s) AS w
         |  FROM c JOIN s$k USING (id) GROUP BY c.idx),
         |v$k AS MATERIALIZED (
         |  SELECT idx, ${q(s"w / sqrt((SELECT SUM(w*w) FROM w$k))")} AS vv
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
       |    unnest(range(1, len(embedding)+1)) AS idx
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |mu AS MATERIALIZED (SELECT idx, ${q("AVG(val)")} AS m FROM e GROUP BY idx),
       |c AS MATERIALIZED (
       |  SELECT id, e.idx, val - m AS cv FROM e JOIN mu USING (idx)),
       |v0 AS MATERIALIZED (SELECT idx, $v0 AS vv FROM mu),
       |$rounds""".stripMargin
  }

  def projectOracleSql(dim: Int, iters: Int): String =
    s"""WITH ${trajectoryCtes(dim, iters)}
       |SELECT id AS vec_id,
       |  FLOOR(SUM(cv * vv)*1000000+0.5)/1000000.0 AS pc1
       |FROM c JOIN v$iters USING (idx)
       |GROUP BY id ORDER BY vec_id""".stripMargin

  def varianceOracleSql(dim: Int, iters: Int): String = {
    def q(e: String) = s"FLOOR(($e)*1000000+0.5)/1000000.0"
    s"""WITH ${trajectoryCtes(dim, iters)},
       |sf AS MATERIALIZED (SELECT id, SUM(cv * vv) AS s
       |  FROM c JOIN v$iters USING (idx) GROUP BY id),
       |agg AS (SELECT
       |    (SELECT COUNT(*) FROM embeddings
       |      WHERE embedding IS NOT NULL AND len(embedding) = $dim) AS n,
       |    (SELECT SUM(s*s) FROM sf) AS ss,
       |    (SELECT SUM(cv*cv) FROM c) AS tt)
       |SELECT n AS n_vectors,
       |  ${q("ss / (n - 1)")} AS lambda1,
       |  ${q("tt / (n - 1)")} AS total_var,
       |  ${q(s"(${q("ss / (n - 1)")}) / (${q("tt / (n - 1)")})")} AS var_ratio
       |FROM agg""".stripMargin
  }
}
