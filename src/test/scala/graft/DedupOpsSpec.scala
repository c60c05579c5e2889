package graft

import graft.ops.{DedupOps, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic specs for the dedup/similarity operator family (beyond the
  * contract smoke in EngineSpec): planted-duplicate recall, LSH-vs-
  * brute-force agreement, pigeonhole exactness, hash portability.
  */
class DedupOpsSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  test("exact dedup partitions the corpus") {
    val d = DedupOps.exactDedup(docs, "doc_id", "text")
    val total = d.agg(sum("n_copies")).head.getLong(0)
    assert(total === docs.count())
    assert(DedupOps.dedupRows(docs, "doc_id", "text").count() === d.count())
  }

  test("minhash LSH finds the high-jaccard planted pairs") {
    val exact = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 0.95)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.95)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // At jaccard >= 0.95 the banding (4 bands x 4 rows) has ~1 -
    // (1-0.95^4)^4 ≈ 0.9996 recall per pair; the tiny planted set must
    // be fully recovered.
    assert(exact.nonEmpty)
    assert(lsh === exact)
  }

  test("containment catches a doc embedded in a longer doc that jaccard misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val long = short + " phi chi psi omega one two three four five six " +
      "seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen"
    val planted = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    // appending words preserves every k-shingle of the prefix, so the
    // short doc is FULLY contained in the long one...
    val cont = DedupOps.containmentPairs(planted, "doc_id", "text", 0.9).collect()
    assert(cont.length === 1)
    assert(cont.head.getLong(0) === 1L) // contained = the short doc
    assert(cont.head.getLong(1) === 2L)
    assert(cont.head.getDouble(2) === 1.0)
    // ...while symmetric jaccard stays low (union dominated by the
    // long doc) — the case this operator exists for
    val jac = DedupOps.ngramJaccardPairs(planted, "doc_id", "text", 0.9).collect()
    assert(jac.isEmpty)
  }

  test("minhash estimate: identical docs estimate 1.0; error bounded by construction") {
    val est = DedupOps.minhashEstimatePairs(docs, "doc_id", "text").collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      val (e, j, err) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(e >= 0.0 && e <= 1.0)
      // est is a multiple of 1/K
      assert(math.abs(e * DedupOps.K - math.round(e * DedupOps.K)) < 1e-9)
      assert(math.abs(err - math.abs(e - j)) < 1e-3)
      // identical shingle sets (exact jaccard 1) force identical
      // signatures — the estimator cannot miss them
      if (j === 1.0) assert(e === 1.0)
    }
  }

  test("segment dedup keeps a cross-doc duplicated segment only in the lowest id") {
    import spark.implicits._
    val seg = "one two three four five six seven eight nine ten" // exactly 10 words
    val d1 = seg + " aa bb cc dd ee ff gg hh ii jj"
    val d2 = seg + " kk ll mm nn oo pp qq rr ss tt"
    val planted = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val out = DedupOps.segmentDedup(planted, "doc_id", "text")
      .orderBy(col("doc_id")).collect()
    assert(out.length === 2)
    // doc 1: both segments kept (it owns the shared one)
    assert(out(0).getLong(1) === 2L && out(0).getLong(2) === 2L)
    // doc 2: the shared first segment dropped, its own tail kept
    assert(out(1).getLong(1) === 2L && out(1).getLong(2) === 1L)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getString(3) === md5hex(d1))
    assert(out(1).getString(3) === md5hex("kk ll mm nn oo pp qq rr ss tt"))
  }

  test("incremental dedup = symmetric pairs restricted to cross-split, best match per new doc") {
    val isNew = col("doc_id") % 5 === 4
    val newIds = docs.filter(isNew).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val inc = DedupOps.incrementalNearDuplicates(
      docs, "doc_id", "text", isNew, 0.8).collect()
    // one row per new doc at most, match always from the index side
    assert(inc.map(_.getLong(0)).distinct.length === inc.length)
    inc.foreach { r =>
      assert(newIds.contains(r.getLong(0)))
      assert(!newIds.contains(r.getLong(1)))
      assert(r.getDouble(2) >= 0.8)
    }
    // every symmetric near-dup pair that straddles the split must be
    // found (the df-cap differs — index-only vs global — so compare
    // against pairs whose jaccard stays >= threshold under either
    // cap; at 0.95 planted pairs are robustly above both)
    val sym = DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.95)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => newIds.contains(a) ^ newIds.contains(b) }
    val found = inc.map(r => (r.getLong(0), r.getLong(1))).toSet
    sym.foreach { case (a, b) =>
      val (n, i) = if (newIds.contains(a)) (a, b) else (b, a)
      assert(found.exists(p => p._1 == n),
        s"cross-split pair ($n,$i) missed by incremental path")
    }
  }

  test("simhash chunk blocking is exact at radius < chunks") {
    val sh = DedupOps.simhash(docs, "doc_id", "text")
    val allPairs = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = DedupOps.simhashNearDuplicates(docs, "doc_id", "text", 2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked === allPairs)
  }

  test("codegen'd TokenizeWs equals the builtin split+filter over the corpus") {
    val viaExpr = docs.select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaBuiltin = docs.select(col("doc_id"), TextOps.wordsBuiltin(col("text")).as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaExpr === viaBuiltin)
  }

  test("codegen'd simhash_fp equals the algebraic explode-count-vote formulation") {
    // the pre-round-3 shuffle formulation, kept here as the reference
    val wc = docs
      .select(col("doc_id").as("id"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", TextOps.wordHash(col("w")))
    val sums = (0 until DedupOps.SimBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, col("cnt"))
        .otherwise(-col("cnt"))).as(s"s$j")
    }
    val fingerprint = (0 until DedupOps.SimBits).map { j =>
      when(col(s"s$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val algebraic = wc.groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("id"), fingerprint.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mapSide = DedupOps.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mapSide === algebraic) // same domain (token-less filtered), same bits
  }

  test("dedupGroups puts both ends of every pair in one group, labeled by the min member") {
    val pairs = DedupOps.minhashNearDuplicates(docs, "doc_id", "text", 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val groups = DedupOps.dedupGroups(docs, "doc_id", "text", 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(groups(a) === groups(b), s"pair ($a,$b) split across groups")
    }
    val members = groups.groupBy(_._2).view.mapValues(_.keys.min)
    members.foreach { case (grp, minId) => assert(grp === minId) }
    assert(groups.values.toSet.size < groups.size) // some real grouping happened
  }

  test("duplicatedSpans merges overlapping dup windows into maximal intervals") {
    import spark.implicits._
    // doc1/doc2 share "AAAAABBBBB" (one merged 10-char span each);
    // doc4 shares AAAAA and BBBBB separately (two disjoint 5-char
    // spans); doc3's repetition is WITHIN one doc only — the cross-doc
    // criterion must not flag it
    val tiny = Seq(
      (1L, "AAAAABBBBBCCCCC"),
      (2L, "XXXXXAAAAABBBBB"),
      (3L, "ZZZZZZZZZZ"),
      (4L, "AAAAA00000BBBBB")).toDF("doc_id", "text")
    val got = DedupOps.duplicatedSpans(tiny, "doc_id", "text", n = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq === Seq(
      (1L, 1L, 10L, 10L, 0.666667),
      (2L, 1L, 10L, 10L, 0.666667),
      (3L, 0L, 0L, 0L, 0.0),
      (4L, 2L, 10L, 5L, 0.666667)))
  }

  test("ShingleHashes expression matches the builtin transform+polyHash formulation") {
    graft.functions.GraftFunctions.register(spark)
    val builtin = docs.select(col("doc_id"),
      array_distinct(transform(
        TextOps.charShingles(col("text"), DedupOps.ShingleN),
        s => TextOps.polyHash(s, DedupOps.ShingleN))).as("hs"))
    val fast = docs.select(col("doc_id"),
      expr(s"shingle_hashes(text, ${DedupOps.ShingleN})").as("hs"))
    val diff = builtin.exceptAll(fast).count() + fast.exceptAll(builtin).count()
    assert(diff === 0)
  }

  test("polyHash matches a reference implementation") {
    val got = spark.range(1).select(
      TextOps.polyHash(lit("abcde"), 5)).head.getLong(0)
    val want = "abcde".foldLeft(0L)((acc, c) => acc * 31 + c.toLong)
    assert(got === want)
  }

  test("cosine LSH candidates are a subset of brute force with decent recall") {
    val brute = SimilarityOps.cosineNearDupPairs(emb, "vec_id", "embedding", 0.3)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.lshNearDupPairs(
      emb, "vec_id", "embedding", bands = 6, bandBits = 6, dim = 64, threshold = 0.3)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
    assert(brute.isEmpty || lsh.size.toDouble / brute.size > 0.2)
  }

  test("bucket-occupancy cap bounds a planted mega-bucket's pair volume") {
    // the degenerate corpus the cap exists for: identical vectors all
    // land in ONE bucket per band, so uncapped candidate volume is
    // C(n,2) regardless of bandBits — with the cap it is at most
    // bands * C(cap,2)
    val mega = spark.range(200).select(col("id").as("vec_id"),
      array((0 until 64).map(i => lit((i % 7 + 1).toFloat)): _*).as("embedding"))
    val uncapped = SimilarityOps.lshNearDupPairs(
      mega, "vec_id", "embedding", bands = 6, bandBits = 6, dim = 64,
      threshold = 0.9).count()
    assert(uncapped === 200L * 199 / 2,
      s"identical vectors must all pair uncapped, got $uncapped")
    val capped = SimilarityOps.lshNearDupPairs(
      mega, "vec_id", "embedding", bands = 6, bandBits = 6, dim = 64,
      threshold = 0.9, bucketCap = 8)
    val cappedRows = capped.collect()
    assert(cappedRows.nonEmpty, "cap must keep survivor pairs, not drop the bucket")
    assert(cappedRows.length <= 6 * 8 * 7 / 2,
      s"capped pair volume must be <= bands * C(cap,2), got ${cappedRows.length}")
    // deterministic: the stateless hash-rank sample reproduces exactly
    val again = SimilarityOps.lshNearDupPairs(
      mega, "vec_id", "embedding", bands = 6, bandBits = 6, dim = 64,
      threshold = 0.9, bucketCap = 8).collect()
    assert(cappedRows.map(_.toString).sorted.toSeq ===
      again.map(_.toString).sorted.toSeq)
    // graph form: only the CORPUS side is capped, so every query node
    // keeps edges (dropped members lose candidacy, not their output row)
    val g = SimilarityOps.lshKnnGraph(mega, "vec_id", "embedding", 3,
      bands = 6, bandBits = 6, dim = 64, bucketCap = 8)
    assert(g.select("query_id").distinct().count() === 200,
      "capping the corpus side must not delete query nodes from the graph")
  }

  test("occupancy cap above max occupancy is bit-identical to uncapped") {
    val plain = SimilarityOps.lshKnnGraph(emb, "vec_id", "embedding", 5,
      bands = 6, bandBits = 6, dim = 64)
      .collect().map(_.toString).sorted.toSeq
    val wide = SimilarityOps.lshKnnGraph(emb, "vec_id", "embedding", 5,
      bands = 6, bandBits = 6, dim = 64, bucketCap = 1000000)
      .collect().map(_.toString).sorted.toSeq
    assert(wide === plain,
      "a non-binding cap must preserve the round-9 graph bit-for-bit")
  }

  test("banded buckets are bit-identical to the packed-signature extraction (<= 64 bits)") {
    // the round-11 wide kernel replaces `(sig >> j*bandBits) & mask`
    // extraction everywhere; at <= 64 total bits the buckets must be
    // bit-identical or every certified <= 64-bit oracle silently breaks
    graft.functions.GraftFunctions.register(spark)
    val bands = 6; val bandBits = 6
    val fromSig = SimilarityOps.hyperplaneSignature(
        emb, "vec_id", "embedding", bands * bandBits, 64)
      .select(col("id"),
        array((0 until bands).map(j => shiftright(col("sig"), j * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val direct = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
      .select(col("vec_id"),
        expr(s"hyperplane_buckets(vd, $bands, $bandBits, 64)").as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(direct === fromSig)
  }

  test("wide banding (> 64 total bits) matches a reference bucket computation") {
    graft.functions.GraftFunctions.register(spark)
    val bands = 16; val bandBits = 8 // 128 planes, past the one-word ceiling
    val got = emb.limit(50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
      .select(col("vec_id"),
        expr(s"hyperplane_buckets(vd, $bands, $bandBits, 64)").as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val vecs = emb.limit(50)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val want = vecs.map { case (id, v) =>
      id -> (0 until bands).map { j =>
        (0 until bandBits).foldLeft(0L) { (acc, r) =>
          val i = j * bandBits + r
          val s = v.indices.foldLeft(0.0)((a, d) =>
            a + v(d) * graft.functions.HyperplaneSig.coeff(i, d, 64))
          if (s > 0) acc | (1L << r) else acc
        }
      }.toVector
    }
    assert(got === want)
  }

  test("multi-probe LSH graph: probing lifts recall at the same band budget") {
    graft.functions.GraftFunctions.register(spark)
    // ground truth: full-corpus exact top-5 restricted to a query slice
    val slice = emb.filter(col("vec_id") % 7 === 0)
    val brute = SimilarityOps.bruteForceTopK(slice, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .filter { case (q, _) => q % 7 == 0 }.toSet
        .intersect(brute).size.toDouble / brute.size
    val plain = recall(SimilarityOps.lshKnnGraph(emb, "vec_id", "embedding", 5,
      bands = 3, bandBits = 6, dim = 64))
    val probed = recall(SimilarityOps.lshKnnGraphMultiProbe(emb, "vec_id",
      "embedding", 5, bands = 3, bandBits = 6, dim = 64))
    info(f"3x6 graph recall@5: plain $plain%.3f multi-probe $probed%.3f")
    // the probe only ADDS candidate buckets per query node — recall
    // can never drop, and on this corpus it must measurably rise
    assert(probed >= plain)
    assert(probed > plain + 0.01,
      s"1-flip probe should lift recall measurably: $plain -> $probed")
    // probe bucket differs from the main bucket in exactly one bit
    val mp = emb.limit(30)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
      .select(col("vec_id"), expr("multiprobe_buckets(vd, 3, 6, 64)").as("b"))
      .collect().map(r => r.getSeq[Long](1))
    mp.foreach { bs =>
      (0 until 3).foreach { j =>
        val x = bs(2 * j) ^ bs(2 * j + 1)
        assert(java.lang.Long.bitCount(x) === 1 && x < (1L << 6),
          s"probe must flip exactly one in-band bit, got xor=$x")
      }
    }
  }

  test("N-probe kernel reduces exactly to the certified narrower kernels") {
    graft.functions.GraftFunctions.register(spark)
    val v = emb.limit(40)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
    // probes=1, offset=0: bit-identical to hyperplane_buckets
    val plain = v.select(col("vec_id"), expr("hyperplane_buckets(vd, 6, 6, 64)"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val p1 = v.select(col("vec_id"), expr("multiprobe_buckets_n(vd, 6, 6, 64, 1, 0)"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(p1 === plain)
    // probes=2, offset=0: bit-identical to the certified 2-probe kernel
    val mp2 = v.select(col("vec_id"), expr("multiprobe_buckets(vd, 3, 6, 64)"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val pn2 = v.select(col("vec_id"), expr("multiprobe_buckets_n(vd, 3, 6, 64, 2, 0)"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(pn2 === mp2)
    // offset o: band j equals full-width band o+j (the staged-build
    // exactness precondition: same global plane indices)
    val full = v.select(col("vec_id"), expr("hyperplane_buckets(vd, 10, 8, 64)"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val off = v.select(col("vec_id"), expr("multiprobe_buckets_n(vd, 4, 8, 64, 1, 5)"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    off.foreach { case (id, bs) =>
      assert(bs === full(id).slice(5, 9), s"offset bands diverged for $id")
    }
  }

  test("multi-probe capped graph reduces to two-phase at probes=1 and staged build is exact") {
    for ((bands, bandBits, cap) <- Seq((6, 6, 16), (10, 8, 16))) {
      val base = SimilarityOps.lshKnnGraphRawTwoPhase(emb, emb,
        "vec_id", "embedding", 5, bands, bandBits, 64, cap)
        .collect().map(_.toString).sorted.toSeq
      val p1 = SimilarityOps.lshKnnGraphRawMultiProbe(emb, emb,
        "vec_id", "embedding", 5, bands, bandBits, 64, probes = 1,
        bucketCap = cap)
        .collect().map(_.toString).sorted.toSeq
      assert(p1 === base, s"probes=1 diverged from two-phase at $bands x $bandBits")
    }
    // staged band groups merge to the unstaged result bit-for-bit
    val work = graft.streaming.StreamingOps.tempSinkDir("graft_spec_staged_")
    val unstaged = SimilarityOps.lshKnnGraphRawMultiProbe(emb, emb,
      "vec_id", "embedding", 5, 10, 8, 64, probes = 2, bucketCap = 16)
      .collect().map(_.toString).sorted.toSeq
    for (groupBands <- Seq(3, 5)) {
      val staged = SimilarityOps.lshKnnGraphStagedRaw(emb,
        "vec_id", "embedding", 5, 10, 8, 64, probes = 2, bucketCap = 16,
        groupBands = groupBands, workDir = s"$work/g$groupBands")
        .collect().map(_.toString).sorted.toSeq
      assert(staged === unstaged, s"staged build diverged at groupBands=$groupBands")
    }
  }

  test("NN-descent refine round never loses recall and measurably lifts it") {
    val slice = emb.filter(col("vec_id") % 7 === 0)
    val brute = SimilarityOps.bruteForceTopK(slice, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .filter { case (q, _) => q % 7 == 0 }.toSet
        .intersect(brute).size.toDouble / brute.size
    // weak base config so the refine round has recall headroom
    val base = SimilarityOps.lshKnnGraphRaw(emb, emb,
      "vec_id", "embedding", 5, bands = 2, bandBits = 6, dim = 64,
      bucketCap = 16)
    val r0 = recall(base)
    val refined = SimilarityOps.knnGraphRefineRaw(emb, "vec_id", "embedding", 5, base)
    val r1 = recall(refined)
    info(f"refine recall@5: base $r0%.3f -> one round $r1%.3f")
    // the INVARIANT is monotonicity (candidates are a superset, exact
    // rerank can only improve per-query top-k); the measured LIFT
    // (+0.045 on this cert corpus at the deliberately weak 2x6c16 base:
    // 0.094 -> 0.139; +0.026 at the 1M probe's 2x6 base) is corpus- and
    // config-dependent, so it is reported, not asserted (round-12
    // advice: a lift threshold is brittle to any future cert-corpus or
    // base-config change)
    assert(r1 >= r0, s"refinement must never lose recall: $r0 -> $r1")
    if (r1 <= r0 + 0.01)
      info(f"NOTE: lift ${r1 - r0}%.4f below the historically measured +0.045 " +
        "(not a failure; check corpus/base-config if unexpected)")
  }

  test("LSH config planner encodes the measured ProbeKnn laws") {
    // the certified wide grid planned back from its deployment contract
    val wide = SimilarityOps.planLshConfig(
      nVectors = 2048, dim = 64, targetRecall = 0.45, maxProbes = 1)
    assert(wide.bands === 16 && wide.bandBits === 8, wide.toString)
    // law #1: bucket count scales with N — the three certified grids'
    // bit-widths sit on the log2(N/occupancy) line (±1 bit)
    assert(SimilarityOps.planLshConfig(500, 64, 0.45, maxProbes = 1).bandBits === 6)
    // the near-dup family's certified grid is the planner's own output
    // (round-12 item 7: every vector-LSH call site planner-served) —
    // same deployment contract VectorQueries.NearDupPlan requires
    val nd = SimilarityOps.planLshConfig(500, 64, 0.36, maxProbes = 1)
    assert(nd.bands === 6 && nd.bandBits === 6, nd.toString)
    assert(math.abs(SimilarityOps.planLshConfig(1000000L, 64, 0.9).bandBits - 16) <= 1)
    assert(math.abs(SimilarityOps.planLshConfig(5000000L, 64, 0.9).bandBits - 20) <= 1)
    // law #2: the neighborCos implied by the measured 5M 8x20 row
    // (recall 0.532) predicts the measured 6x20 row (0.450) within 0.05
    def solveCos(bands: Int, bandBits: Int, target: Double): Double = {
      var lo = 0.5; var hi = 0.999
      for (_ <- 1 to 60) {
        val mid = (lo + hi) / 2
        if (SimilarityOps.lshRecallEstimate(bands, bandBits, 1, mid) < target) lo = mid
        else hi = mid
      }
      (lo + hi) / 2
    }
    val sStar = solveCos(8, 20, 0.532)
    val pred6 = SimilarityOps.lshRecallEstimate(6, 20, 1, sStar)
    info(f"implied neighborCos $sStar%.4f predicts 6x20 recall $pred6%.3f (measured 0.450)")
    assert(math.abs(pred6 - 0.450) <= 0.05)
    // law #1 (skewed occupancy): candidate estimates within +/-50% of
    // the two committed probe counts
    val est5m = SimilarityOps.lshCandidateEstimate(5000000L, 8, 20, 1, 16)
    assert(est5m > 620737614L / 2 && est5m < 620737614L * 3 / 2, est5m.toString)
    val est1m = SimilarityOps.lshCandidateEstimate(1000000L, 4, 16, 1, 0)
    assert(est1m > 244520908L / 2 && est1m < 244520908L * 3 / 2, est1m.toString)
    // law #4 (corrected round 12): the cap must clear the heavy-tailed
    // bucket occupancy, not its mean — at 5M (mean occ 4.8) recall
    // measured 0.590/0.894/0.928 at caps 16/48/64
    assert(SimilarityOps.planLshConfig(5000000L, 64, 0.9).bucketCap >= 48)
    // law #3 (corrected round 12): probe value decays with bandBits —
    // a 3rd probe is only planned at narrow bands (measured +0.004 at
    // 20-bit bands vs the 3x6 regime where probes ~= 0.8 band)
    assert(SimilarityOps.planLshConfig(5000000L, 64, 0.99).probes <= 2)
    assert(SimilarityOps.lshProbeLift(6) > SimilarityOps.lshProbeLift(20))
    // law #5: halving the disk budget at least doubles nothing less —
    // staged groups are monotone in the in-flight volume
    val tight = SimilarityOps.planLshConfig(5000000L, 64, 0.9,
      diskBudgetBytes = 10L << 30)
    val loose = SimilarityOps.planLshConfig(5000000L, 64, 0.9,
      diskBudgetBytes = 100L << 30)
    assert(tight.stagedGroups >= loose.stagedGroups)
    assert(tight.groupBands <= loose.groupBands)
  }

  test("two-phase near-dup is bit-identical to the single-phase kernel") {
    for ((bands, bandBits, cap) <- Seq((6, 6, 0), (6, 6, 8), (16, 8, 0))) {
      val one = SimilarityOps.lshNearDupPairs(emb, "vec_id", "embedding",
        bands, bandBits, 64, threshold = 0.3, bucketCap = cap)
        .collect().map(_.toString).sorted.toSeq
      val two = SimilarityOps.lshNearDupPairsTwoPhase(emb, "vec_id", "embedding",
        bands, bandBits, 64, threshold = 0.3, bucketCap = cap)
        .collect().map(_.toString).sorted.toSeq
      assert(two === one, s"two-phase near-dup diverged at $bands x $bandBits cap=$cap")
    }
  }

  test("two-phase rerank is bit-identical to the single-phase kernel") {
    // capped + uncapped, narrow + wide configs: same candidate set,
    // same double arithmetic, same tie-breaks — the invariance the
    // shared q_knn_graph_twophase oracle certifies cross-engine
    for ((bands, bandBits, cap) <- Seq((6, 6, 0), (6, 6, 16), (16, 8, 0))) {
      val one = SimilarityOps.lshKnnGraphRaw(emb, emb,
        "vec_id", "embedding", 5, bands, bandBits, 64, cap)
        .collect().map(_.toString).sorted.toSeq
      val two = SimilarityOps.lshKnnGraphRawTwoPhase(emb, emb,
        "vec_id", "embedding", 5, bands, bandBits, 64, cap)
        .collect().map(_.toString).sorted.toSeq
      assert(two === one, s"two-phase diverged at $bands x $bandBits cap=$cap")
    }
  }

  test("hyperplane signatures are non-degenerate (hyperplanes independent)") {
    // a broken sign derivation (e.g. the low bit of odd*x) makes every
    // hyperplane identical for even dim: all mass lands in 2 buckets
    // and candidate generation degenerates to ~n^2/4 pairs
    val nSig = SimilarityOps.hyperplaneSignature(emb, "vec_id", "embedding", 8, 64)
      .select("sig").distinct().count()
    assert(nSig > 8, s"signatures collapsed to $nSig buckets")
  }

  test("IVF topK has reasonable recall vs brute force; learned centroids lift it") {
    import org.apache.spark.sql.functions.col
    val q = emb.filter(col("vec_id") < 10)
    val c = emb.filter(col("vec_id") >= 10)
    val brute = SimilarityOps.bruteForceTopK(q, c, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(learnIters: Int): Double = {
      val ivf = SimilarityOps.ivfTopK(q, c, "vec_id", "embedding", 5, 16, 4,
        learnIters = learnIters)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(ivf.size === brute.size) // k results per query either way
      (ivf intersect brute).size.toDouble / brute.size
    }
    val seeded = recallOf(0)
    val learned = recallOf(2)
    assert(seeded >= 0.25, s"IVF recall too low: $seeded")
    info(s"IVF recall@5: first-k seeds $seeded, learned (2 Lloyd rounds) $learned")
    assert(learned >= seeded,
      s"learning centroids must not hurt recall: $learned < $seeded")
    assert(learned >= 0.4, s"learned-centroid recall too low: $learned")
  }

  test("LSH topK: scores exact on bucket candidates, recall above floor") {
    val q = emb.filter(col("vec_id") < 10)
    val c = emb.filter(col("vec_id") >= 10)
    val brute = SimilarityOps.bruteForceTopK(q, c, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = SimilarityOps.lshTopK(q, c, "vec_id", "embedding", 5,
      bands = 8, bandBits = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // per-query ranks are dense 1..n (n <= k — LSH may find fewer
    // candidates than k, unlike IVF/PQ which scan whole cells)
    lsh.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to rows.size))
    }
    val recall = lsh.map(r => (r._1, r._3)).toSet.intersect(brute).size.toDouble / brute.size
    info(s"LSH(8x4) recall@5: $recall")
    assert(recall >= 0.4, s"LSH recall too low: $recall")
  }

  test("IVFPQ: cell-pruned ADC serve, recall measured vs both parents") {
    val q = emb.filter(col("vec_id") < 10)
    val c = emb.filter(col("vec_id") >= 10)
    val brute = SimilarityOps.bruteForceTopK(q, c, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        .intersect(brute).size.toDouble / brute.size
    val rIvf = recall(SimilarityOps.ivfTopK(q, c, "vec_id", "embedding", 5,
      16, 4, learnIters = 2))
    val rPq = recall(SimilarityOps.pqTopK(q, c, "vec_id", "embedding", 5,
      subspaces = 8, codebookSize = 16, learnIters = 1, dim = 64))
    val ivfpq = SimilarityOps.ivfPqTopK(q, c, "vec_id", "embedding", 5,
      nCentroids = 16, nProbe = 4, ivfIters = 2,
      subspaces = 8, codebookSize = 16, pqIters = 1, dim = 64)
    val rows = ivfpq.collect()
    // per-query ranks dense 1..n (n <= k: probed cells may hold < k)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq === (1L to rs.length))
    }
    val rBoth = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
      .intersect(brute).size.toDouble / brute.size
    info(s"recall@5: IVF $rIvf, PQ $rPq, IVFPQ $rBoth")
    // IVFPQ's candidates are IVF's, ranked noisier — recall can never
    // exceed IVF's (a brute-top-k member in the candidate set is
    // unbeatable under exact ranking, droppable under recon ranking;
    // vs the FULL-corpus PQ parent no inequality holds: pruning also
    // removes recon-noise competitors). Must stay a useful shortlist.
    assert(rBoth <= rIvf + 1e-9)
    assert(rBoth >= 0.05, s"IVFPQ recall collapsed: $rBoth")
  }

  test("JL projection: distortion concentrates near 1, shortlist recall above floor") {
    graft.functions.GraftFunctions.register(spark)
    // distortion: mean normalized squared-distance ratio over the
    // consecutive-pair sample must sit near 1 (E = 1 exactly for ±1
    // entries; sd per pair ≈ sqrt(2/16) ≈ 0.35, mean over hundreds of
    // pairs is tight)
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("vd"))
      .withColumn("pv", expr("random_project(vd, 16, 64)"))
    val a = v.select(col("vec_id").as("ia"), col("vd").as("va"), col("pv").as("pa"))
    val b = v.select(col("vec_id").as("ib"), col("vd").as("vb"), col("pv").as("pb"))
    val ratios = a.join(b, col("ib") === col("ia") + 1)
      .withColumn("d2", expr("dot_product(va, va)") - lit(2.0) * expr("dot_product(va, vb)") + expr("dot_product(vb, vb)"))
      .withColumn("d2p", expr("dot_product(pa, pa)") - lit(2.0) * expr("dot_product(pa, pb)") + expr("dot_product(pb, pb)"))
      .filter(col("d2") > 0)
      .select((col("d2p") / (lit(16.0) * col("d2"))).as("r"))
      .collect().map(_.getDouble(0))
    val mean = ratios.sum / ratios.length
    info(f"JL(64->16) distortion: mean $mean%.3f over ${ratios.length} pairs")
    assert(mean > 0.85 && mean < 1.15, s"JL distortion mean off: $mean")
    // projection bit-identity vs a reference loop
    val got = v.limit(20).select(col("vec_id"), col("pv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    val raw = v.limit(20).select(col("vec_id"), col("vd")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    got.foreach { case (id, p) =>
      val want = (0 until 16).map { i =>
        raw(id).indices.foldLeft(0.0)((acc, d) =>
          acc + raw(id)(d) * graft.functions.HyperplaneSig.coeff(i, d, 64))
      }.toVector
      assert(p === want, s"projection mismatch for vec $id")
    }
    // two-stage shortlist recall vs brute
    val q = emb.filter(col("vec_id") < 10)
    val c = emb.filter(col("vec_id") >= 10)
    val brute = SimilarityOps.bruteForceTopK(q, c, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val jl = SimilarityOps.jlShortlistTopK(q, c, "vec_id", "embedding", 5,
      shortlist = 50, outDim = 16, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = jl.intersect(brute).size.toDouble / brute.size
    info(f"JL shortlist(50) recall@5: $recall%.2f")
    assert(recall >= 0.3, s"JL shortlist recall collapsed: $recall")
  }

  test("PQ topK: k results per query, recall vs brute force above floor") {
    val q = emb.filter(col("vec_id") < 10)
    val c = emb.filter(col("vec_id") >= 10)
    val brute = SimilarityOps.bruteForceTopK(q, c, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = SimilarityOps.pqTopK(q, c, "vec_id", "embedding", 5,
      subspaces = 8, codebookSize = 16, learnIters = 1, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq.size === brute.size) // k rows per query either way
    val recall = (pq intersect brute).size.toDouble / brute.size
    info(s"PQ recall@5 (M=8, K=16): $recall")
    // near-isotropic synthetic vectors are PQ's worst case; the floor
    // asserts the quantized ranking carries real signal (random top-5
    // picks from a 490-vector corpus would land ~0.01), not that it
    // matches exact search (an M/K sweep mapped the recall/cost curve:
    // 0.18 here at sf0.001, 0.28 at sf0.01, rising with M/K)
    assert(recall >= 0.1, s"PQ recall too low: $recall")
  }

  test("PQ topK with L2-assignment codebooks: same contract, recall above floor") {
    val q = emb.filter(col("vec_id") < 10)
    val c = emb.filter(col("vec_id") >= 10)
    val brute = SimilarityOps.bruteForceTopK(q, c, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = SimilarityOps.pqTopK(q, c, "vec_id", "embedding", 5,
      subspaces = 8, codebookSize = 16, learnIters = 1, dim = 64,
      metric = "l2")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // identical output contract to the cosine chain: k rows per query,
    // serve metric still cosine — only the quantizer's cell geometry
    // switched (L2 cells keep magnitude structure; cosine cells are
    // rays through the origin)
    assert(pq.size === brute.size)
    val recall = (pq intersect brute).size.toDouble / brute.size
    info(s"PQ-L2 recall@5 (M=8, K=16): $recall")
    assert(recall >= 0.1, s"PQ-L2 recall too low: $recall")
  }

  test("brute-force topK returns k ordered neighbors per query") {
    val k = 3
    val res = SimilarityOps.bruteForceTopK(
      emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
      "vec_id", "embedding", k)
    val rows = res.collect()
    assert(rows.length === 5 * k)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { g =>
      val sims = g.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("sorted-neighborhood: finds shared-prefix dups, blind to first-chars mutations") {
    import spark.implicits._
    // base ~200 chars so 0.5-jaccard survives a 1-char edit; pair
    // (1,2) differs mid-string (same sort key prefix → found), pair
    // (3,4) differs in char 1 (different 4-char block → structurally
    // missed: the documented SNM recall bound). Unrelated doc 5 sorts
    // between nothing relevant.
    val base = ("the quick brown fox jumps over the lazy dog again and " * 4)
    val d = Seq(
      (1L, base + "tail one"),
      (2L, base + "tail two"),
      (3L, "aaaa " + base),
      (4L, "bbbb " + base),
      (5L, "zzzz completely different text with no overlap at all here"))
      .toDF("doc_id", "text")
    val got = DedupOps.sortedNeighborhoodPairs(d, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)))
    assert(!got.contains((3L, 4L)), "pair differing in the sort-key prefix " +
      "must be missed by a single SNM pass (multi-pass unions keys)")
    // the same pair IS found by the key-free inverted-index measure —
    // the exact trade the two certified strategies bracket
    val inv = DedupOps.ngramJaccardPairs(d, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inv.contains((3L, 4L)))
  }

  test("bag jaccard: frequency-inflated doc scores below the set measure against a single copy") {
    import spark.implicits._
    // doc 2 = doc 1's paragraph repeated 4x: SET shingle jaccard is
    // high (same shingle set + 3 seam shingles), bag similarity of
    // word tf vectors is ~min(1,4)/max(1,4) = 0.25 per word — the
    // repetition gap only the weighted measure sees
    val para = "the quick brown fox jumps over the lazy dog once more today "
    val d = Seq((1L, para), (2L, para * 4)).toDF("doc_id", "text")
    val set = DedupOps.ngramJaccardPairs(d, "doc_id", "text", 0.0)
      .collect().head.getDouble(2)
    val bag = DedupOps.bagJaccardPairs(d, "doc_id", "text", 0.0)
      .collect().head.getDouble(2)
    assert(set > 0.8, s"set jaccard should be near 1, got $set")
    assert(bag < 0.3, s"bag jaccard must see the 4x repetition, got $bag")
    // identical docs: bag similarity is exactly 1
    val same = Seq((1L, para), (2L, para)).toDF("doc_id", "text")
    assert(DedupOps.bagJaccardPairs(same, "doc_id", "text", 0.0)
      .collect().head.getDouble(2) === 1.0)
  }

  test("record linkage: matches require both strong agreements; scores are the two lattice values") {
    val out = graft.queries.DedupQueries.q_record_linkage.fn(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3),
        "under the FS weights, threshold 800 is reachable only with " +
          "segment AND balance agreement")
      val s = r.getLong(4)
      assert(s === 1873L || s === 1303L, s"unexpected score lattice value $s")
    }
  }

  test("market share and kappa queries: internal consistency invariants") {
    val ms = graft.queries.Relational.q_market_share.fn(spark, sf).collect()
    assert(ms.nonEmpty)
    ms.foreach { r =>
      val (nat, mkt, bp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nat >= 0 && nat <= mkt, s"share numerator outside market: $r")
      assert(bp === nat * 10000 / mkt)
    }
    val kp = graft.queries.DqQueries.q_cohens_kappa.fn(spark, sf).collect()
    assert(kp.length === 5) // one row per language
    kp.foreach { r =>
      val (po, pe, k) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(po >= 0 && po <= 1000000 && pe >= 0 && pe <= 1000000)
      assert(k <= 1000000, s"kappa above 1: $r")
    }
  }
}
