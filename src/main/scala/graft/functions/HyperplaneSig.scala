package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Codegen'd random-hyperplane LSH signature of an `array<double>`
  * vector: bit i = sign(v · h_i) where hyperplane h_i's components are
  * ±1 from a deterministic integer mix of (i, d) — no RNG state, no
  * materialized hyperplane table.
  *
  * The column-algebra formulation builds `bits × dim` `element_at`
  * terms in one projection (2300+ expression nodes at 36 bits × 64
  * dims) — enormous generated code that falls off the codegen happy
  * path. Here the whole signature is one tight two-level loop
  * (mix cost is ~bits·dim integer ops per row, trivial next to the
  * loads). Same accumulation order as the `reduce(_ + _)` left fold,
  * so signatures are bit-identical to the algebraic version (pinned by
  * spec).
  */
case class HyperplaneSig(child: Expression, bits: Int, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    HyperplaneSig.compute(input.asInstanceOf[ArrayData], bits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HyperplaneSig.compute($c, $bits, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd WIDE random-hyperplane sketch: like [[HyperplaneSig]] but
  * `bits` may exceed 64 — the signature packs into `ceil(bits/64)`
  * longs (`array<long>`), word w bit r = global plane i = w·64+r, with
  * the SAME deterministic coefficient mix ([[HyperplaneSig.coeff]]),
  * so word 0 of a 256-bit sketch is bit-identical to
  * `HyperplaneSig(v, 64, dim)`. Wide sketches are the Hamming-rerank
  * prefilter's substrate ([[graft.ops.SimilarityOps.sketchTopK]]):
  * 256 bits ≈ 4 longs per vector vs 64 doubles — a 16× smaller scan,
  * and the distance is POPCNT, not FMA.
  */
case class HyperplaneSketch(child: Expression, bits: Int, dim: Int)
    extends UnaryExpression {
  require(bits >= 1, s"sketch bits must be >= 1 (got $bits)")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HyperplaneSig.computeWide(input.asInstanceOf[ArrayData], bits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HyperplaneSig.computeWide($c, $bits, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd banded hyperplane LSH buckets — the WIDE-signature form
  * of the banding algebra: element j of the result is band j's bucket,
  * bit r = sign(v · h_{j·bandBits+r}) with the SAME deterministic
  * coefficient mix ([[HyperplaneSig.coeff]]) and the same global plane
  * order as [[HyperplaneSig]]/[[HyperplaneSketch]]. For
  * bands·bandBits ≤ 64 the buckets are bit-identical to extracting
  * `(sig >> j·bandBits) & mask` from `HyperplaneSig(v, bands·bandBits,
  * dim)` (spec-pinned), so the certified ≤64-bit queries are unchanged
  * — but the TOTAL bit budget is now unbounded (`Probe knn` law #1: past
  * ~2M vectors at dim 64, per-band bucket count must keep scaling and
  * one 64-bit word is structurally exhausted). Each band's bucket is
  * its own long, so `bandBits` may go to 62 without word-spanning
  * arithmetic anywhere.
  */
case class HyperplaneBuckets(child: Expression, bands: Int, bandBits: Int,
    dim: Int) extends UnaryExpression {
  require(bands >= 1 && bandBits >= 1 && bandBits <= 62,
    s"need bands >= 1 and bandBits in [1, 62], got $bands x $bandBits")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HyperplaneSig.computeBuckets(input.asInstanceOf[ArrayData], bands, bandBits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HyperplaneSig.computeBuckets($c, $bands, $bandBits, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd MULTI-PROBE banded buckets (Lv et al. 2007's trade:
  * fewer hash tables, more probes per query): element 2j is band j's
  * bucket exactly as [[HyperplaneBuckets]] computes it, element 2j+1
  * is the probe bucket — the same bucket with its LEAST-CONFIDENT bit
  * flipped (the plane whose pre-sign sum has the smallest |margin|;
  * ties to the lowest bit index). A query-side probe doubles the
  * buckets a query checks WITHOUT growing the stored index (the
  * corpus keeps one bucket per band) — at 100 TB that is the recall
  * of ~2× the bands at HALF the index size and half the index-build
  * scan. Deterministic: margins are the same left-to-right sums as
  * the bucket bits, so the DuckDB oracle replays bucket AND flip
  * choice from the literal hyperplane table.
  */
case class MultiProbeBuckets(child: Expression, bands: Int, bandBits: Int,
    dim: Int) extends UnaryExpression {
  require(bands >= 1 && bandBits >= 1 && bandBits <= 62,
    s"need bands >= 1 and bandBits in [1, 62], got $bands x $bandBits")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HyperplaneSig.computeMultiProbe(input.asInstanceOf[ArrayData], bands, bandBits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HyperplaneSig.computeMultiProbe($c, $bands, $bandBits, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[MultiProbeBuckets]] generalized to `probes` buckets per band and a
  * global band OFFSET (round-12): element j·probes+t is band
  * (offset+j)'s probe t — t = 0 the true bucket, probe t ≥ 1 the
  * bucket with its t-th LEAST-CONFIDENT bit flipped (t-th smallest
  * |pre-sign sum|, ties to the lowest bit index; single-bit flips, so
  * `probes ≤ bandBits + 1`). The offset makes STAGED band-group builds
  * exact: group g computes bands [g·G, (g+1)·G) with the identical
  * global plane index i = (offset+j)·bandBits + r, so a per-group
  * build unions to the same candidate set as one full-width pass —
  * the peak-spill dial the 5M frontier needs (peak shuffle volume
  * divides by the group count; results provably identical since
  * per-pair cos values are bit-equal and the merge dedups by max).
  */
case class MultiProbeBucketsN(child: Expression, bands: Int, bandBits: Int,
    dim: Int, probes: Int, offset: Int) extends UnaryExpression {
  require(bands >= 1 && bandBits >= 1 && bandBits <= 62,
    s"need bands >= 1 and bandBits in [1, 62], got $bands x $bandBits")
  require(probes >= 1 && probes <= bandBits + 1,
    s"need probes in [1, bandBits + 1], got $probes at $bandBits bits")
  require(offset >= 0, s"band offset must be >= 0, got $offset")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HyperplaneSig.computeMultiProbeN(
      input.asInstanceOf[ArrayData], bands, bandBits, dim, probes, offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HyperplaneSig.computeMultiProbeN($c, $bands, $bandBits, $dim, $probes, $offset);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd dense ±1 random projection (Johnson–Lindenstrauss,
  * Achlioptas-style sign matrix): output component i = Σ_d v[d] ·
  * coeff(i, d, dim) — the SAME deterministic hyperplane mix as the LSH
  * kernels, kept as a VALUE instead of a sign, so the projection is
  * reproducible anywhere with no stored matrix and the DuckDB oracle
  * replays it from the identical literal ±1 table. No 1/√k scaling:
  * cosine and distance RATIOS are scale-invariant, and omitting it
  * keeps every oracle term a plain ±v[d] sum. The JL guarantee (pair
  * distances preserved within 1±ε at k = O(log n / ε²)) is measured,
  * not assumed, in q_jl_distortion.
  */
case class RandomProject(child: Expression, outDim: Int, dim: Int)
    extends UnaryExpression {
  require(outDim >= 1, s"outDim must be >= 1 (got $outDim)")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HyperplaneSig.computeProject(input.asInstanceOf[ArrayData], outDim, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HyperplaneSig.computeProject($c, $outDim, $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd Hamming distance between two packed `array<long>`
  * sketches (per-word POPCNT of the XOR) — the prefilter metric; ~8
  * integer ops for a 256-bit sketch vs 64 multiply-adds for the exact
  * dot, the arithmetic edge the two-stage rerank spends on recall.
  * Truncates to the shorter sketch (fixed-width sketch columns by
  * construction). */
case class HammingDist(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    HyperplaneSig.hamming(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HyperplaneSig.hamming($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HyperplaneSig {

  /** h_i[d] in {-1, +1} from a murmur-style finalizer over the flat
    * hyperplane/component index — bit 16 of the mixed value (the raw
    * low bit of odd·x is just x&1: degenerate).
    */
  def coeff(i: Int, d: Int, dim: Int): Double = {
    var x = 2654435761L * (i * dim + d + 1)
    x ^= x >>> 33
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 29
    if (((x >>> 16) & 1L) == 0L) 1.0 else -1.0
  }

  /** Wide signature: `ceil(bits/64)` packed words, global plane index
    * (Java-static for codegen). */
  def computeWide(a: ArrayData, bits: Int, dim: Int): ArrayData = {
    val n = math.min(dim, a.numElements())
    val words = (bits + 63) / 64
    val out = new Array[Long](words)
    var i = 0
    while (i < bits) {
      var s = 0.0
      var d = 0
      while (d < n) { s += a.getDouble(d) * coeff(i, d, dim); d += 1 }
      if (s > 0) out(i >>> 6) |= (1L << (i & 63))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** N-probe banded buckets with a global band offset (Java-static for
    * codegen): band slot j holds `probes` longs — the true bucket of
    * global band (offset+j), then the buckets with the 1st, 2nd, …
    * (probes−1)-th least-confident bits flipped (|margin| ascending,
    * ties to the lowest bit index). Same plane sums and d-order as
    * [[computeBuckets]], so probes=1/offset=0 is bit-identical to it
    * and probes=2/offset=0 to [[computeMultiProbe]] (spec-pinned).
    */
  def computeMultiProbeN(a: ArrayData, bands: Int, bandBits: Int, dim: Int,
      probes: Int, offset: Int): ArrayData = {
    val n = math.min(dim, a.numElements())
    val out = new Array[Long](probes * bands)
    val sums = new Array[Double](bandBits)
    val order = new Array[Int](bandBits)
    var j = 0
    while (j < bands) {
      var bucket = 0L
      var r = 0
      while (r < bandBits) {
        val i = (offset + j) * bandBits + r
        var s = 0.0
        var d = 0
        while (d < n) { s += a.getDouble(d) * coeff(i, d, dim); d += 1 }
        if (s > 0) bucket |= (1L << r)
        sums(r) = math.abs(s)
        order(r) = r
        r += 1
      }
      // insertion sort of bit indices by (|sum| asc, bit index asc) —
      // bandBits <= 62, and only the first probes-1 entries are read;
      // skipped entirely at probes=1 (the plain-bucket fast path the
      // staged corpus side rides)
      var x = if (probes > 1) 1 else bandBits
      while (x < bandBits) {
        val o = order(x)
        val s = sums(o)
        var y = x - 1
        while (y >= 0 && (sums(order(y)) > s ||
            (sums(order(y)) == s && order(y) > o))) {
          order(y + 1) = order(y); y -= 1
        }
        order(y + 1) = o
        x += 1
      }
      out(probes * j) = bucket
      var t = 1
      while (t < probes) {
        out(probes * j + t) =
          if (t - 1 < bandBits) bucket ^ (1L << order(t - 1)) else bucket
        t += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-band (bucket, 1-flip probe bucket) pairs, flattened to
    * 2·bands longs (Java-static for codegen): same plane sums and
    * d-order as [[computeBuckets]]; the probe flips the bit whose
    * |sum| is smallest (ties to the lowest bit index). */
  def computeMultiProbe(a: ArrayData, bands: Int, bandBits: Int, dim: Int): ArrayData = {
    val n = math.min(dim, a.numElements())
    val out = new Array[Long](2 * bands)
    var j = 0
    while (j < bands) {
      var bucket = 0L
      var minAbs = Double.MaxValue
      var minR = 0
      var r = 0
      while (r < bandBits) {
        val i = j * bandBits + r
        var s = 0.0
        var d = 0
        while (d < n) { s += a.getDouble(d) * coeff(i, d, dim); d += 1 }
        if (s > 0) bucket |= (1L << r)
        val ab = math.abs(s)
        if (ab < minAbs) { minAbs = ab; minR = r }
        r += 1
      }
      out(2 * j) = bucket
      out(2 * j + 1) = bucket ^ (1L << minR)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Dense ±1 projection values, one double per output component
    * (Java-static for codegen; same coeff mix and d-order as
    * [[compute]], so component i is the pre-sign sum of plane i). */
  def computeProject(a: ArrayData, outDim: Int, dim: Int): ArrayData = {
    val n = math.min(dim, a.numElements())
    val out = new Array[Double](outDim)
    var i = 0
    while (i < outDim) {
      var s = 0.0
      var d = 0
      while (d < n) { s += a.getDouble(d) * coeff(i, d, dim); d += 1 }
      out(i) = s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Banded buckets, one long per band — global plane index
    * i = band·bandBits + r, same coeff mix and accumulation order as
    * [[compute]] (Java-static for codegen). */
  def computeBuckets(a: ArrayData, bands: Int, bandBits: Int, dim: Int): ArrayData = {
    val n = math.min(dim, a.numElements())
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var bucket = 0L
      var r = 0
      while (r < bandBits) {
        val i = j * bandBits + r
        var s = 0.0
        var d = 0
        while (d < n) { s += a.getDouble(d) * coeff(i, d, dim); d += 1 }
        if (s > 0) bucket |= (1L << r)
        r += 1
      }
      out(j) = bucket
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** POPCNT Hamming distance over packed sketches (Java-static for
    * codegen). */
  def hamming(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var h = 0
    var i = 0
    while (i < n) {
      h += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    h
  }

  /** Full signature in one pass (Java-static for codegen). */
  def compute(a: ArrayData, bits: Int, dim: Int): Long = {
    val n = math.min(dim, a.numElements())
    var sig = 0L
    var i = 0
    while (i < bits) {
      var s = 0.0
      var d = 0
      while (d < n) { s += a.getDouble(d) * coeff(i, d, dim); d += 1 }
      if (s > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }
}
