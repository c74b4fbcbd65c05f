package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorOps

/** Product-quantization properties that the oracle hash can't see:
  * partition-independence of the one-pass multi-subspace trainer,
  * encode/reconstruct consistency, and the ADC path against a
  * driver-side reference. */
class PqSpec extends AnyFunSuite with SparkSpec {

  private lazy val emb = graft.sources.Tables.embeddings(spark, sf).cache()
  private lazy val books = VectorOps.pqTrainedCodebooks(emb)

  test("codebooks: m books of ksub sub-centroids of Dim/m dims, partition-independent") {
    assert(books.size === VectorOps.PqSubspaces)
    assert(books.forall(_.size === VectorOps.PqSubCentroids))
    val d = VectorOps.Dim / VectorOps.PqSubspaces
    assert(books.forall(_.forall(_.size === d)))
    // grid-summed training must not depend on how the corpus is split
    val books7 = VectorOps.pqTrainedCodebooks(emb.repartition(7))
    assert(books7 === books, "training diverged under a different partitioning")
  }

  test("codes: one id per (vector, subspace), in range, partition-independent") {
    val codes = VectorOps.pqCodes(emb, Some(books)).cache()
    val n = emb.count()
    assert(codes.count() === n * VectorOps.PqSubspaces)
    val bad = codes.where(col("code") < 0 ||
      col("code") >= VectorOps.PqSubCentroids).count()
    assert(bad === 0L, "code outside [0, ksub)")
    val again = VectorOps.pqCodes(emb.repartition(5), Some(books))
    assert(codes.exceptAll(again).count() === 0L &&
      again.exceptAll(codes).count() === 0L,
      "encoding diverged under a different partitioning")
  }

  test("a vector equal to a sub-centroid concat encodes to it and reconstructs exactly") {
    val sess = spark
    import sess.implicits._
    // synthetic vector: subspace m takes book(m)(m)'s centroid verbatim
    val v = (0 until VectorOps.PqSubspaces).flatMap(mi => books(mi)(mi))
      .map(_.toFloat)
    val synth = Seq((100000L, v)).toDF("vec_id", "embedding")
    val got = VectorOps.pqCodes(synth, Some(books))
      .orderBy("sub").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(got.toSeq === (0 until VectorOps.PqSubspaces).map(mi => (mi, mi.toLong)),
      "nearest sub-centroid to a centroid must be itself")
  }

  test("ADC top-k matches a driver-side reconstruct-and-rank reference") {
    val queryIds = Seq(0L, 1L, 2L)
    val k = 5
    val vecs = emb.select(col("vec_id"),
        VectorOps.asDoubles(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val d = VectorOps.Dim / VectorOps.PqSubspaces
    def code(v: Seq[Double], mi: Int): Int =
      books(mi).zipWithIndex.minBy { case (cv, ci) =>
        (cv.zip(v.slice(mi * d, (mi + 1) * d))
          .map { case (c, x) => (x - c) * (x - c) }.sum, ci)
      }._2
    def recon(v: Seq[Double]): Seq[Double] =
      (0 until VectorOps.PqSubspaces).flatMap(mi => books(mi)(code(v, mi)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      dot / (na * nb)
    }
    val want = queryIds.flatMap { q =>
      val qv = vecs(q)
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          (q, id, BigDecimal(cos(qv, recon(v)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .filterNot(t => t._3.isNaN)
        .sortBy(t => (-t._3, t._2)).take(k).zipWithIndex
        .map { case ((qq, id, c), i) => (qq, id, c, i + 1) }
    }.toSet
    val got = VectorOps.pqTopK(emb, queryIds, k, Some(books))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got === want)
  }

  test("residual IVFADC: codes valid, reconstruction tighter than raw codes, recall not worse") {
    val cents = VectorOps.trainedCentroids(emb)
    val resBooks = VectorOps.pqResidualCodebooks(emb, cents)
    assert(resBooks.size === VectorOps.PqSubspaces)
    assert(resBooks.forall(_.size === VectorOps.PqSubCentroids))
    val vecs = emb.select(col("vec_id"),
        VectorOps.asDoubles(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def collectIdx(residual: Boolean, bks: Seq[Seq[Seq[Double]]]) =
      VectorOps.ivfPqIndex(emb, cents, bks, residual).collect()
        .map(r => r.getLong(0) -> (r.getSeq[Long](1).toSeq, r.getLong(2))).toMap
    val idxRaw = collectIdx(residual = false, books)
    val idxRes = collectIdx(residual = true, resBooks)
    // both layouts carry the same coarse cell for every vector
    assert(idxRaw.keySet === vecs.keySet && idxRes.keySet === vecs.keySet)
    assert(idxRaw.forall { case (id, (_, cell)) => idxRes(id)._2 === cell })
    assert(idxRes.values.forall(_._1.forall(c =>
      c >= 0 && c < VectorOps.PqSubCentroids)), "residual code out of range")
    def reconFrom(codes: Seq[Long], bks: Seq[Seq[Seq[Double]]]): Seq[Double] =
      codes.zipWithIndex.flatMap { case (c, mi) => bks(mi)(c.toInt) }
    // residual reconstruction (centroid + r̂) must be tighter on average
    // than raw-vector codes under the same bit budget — the IVFADC claim
    val (sumRaw, sumRes) = vecs.keys.foldLeft((0.0, 0.0)) { case ((a, b), id) =>
      val v = vecs(id)
      val xRaw = reconFrom(idxRaw(id)._1, books)
      val cell = idxRes(id)._2.toInt
      val xRes = cents(cell).zip(reconFrom(idxRes(id)._1, resBooks))
        .map { case (c, r) => c + r }
      (a + cos(v, xRaw), b + cos(v, xRes))
    }
    assert(sumRes > sumRaw,
      f"residual recon no tighter: raw ${sumRaw / vecs.size}%.4f vs res ${sumRes / vecs.size}%.4f")
  }

  test("residual encoding lifts IVF+PQ recall at sf0.01 (the IVFADC claim, measured)") {
    // measured at sf0.01: the sf0.001 fixture's ~60 vectors make
    // recall@5 a 20-sample coin flip (±0.1 swings are 2 items); at
    // sf0.01 the ordering is stable — r9 measurement: ivfpq_res 0.40,
    // ivfpq 0.33, pq 0.37 over 6 queries
    val e01 = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val cents = VectorOps.trainedCentroids(e01)
    val rec = VectorOps.annRecall(e01, Seq(0L, 1L, 2L, 3L, 4L, 5L), 5,
        Some(cents), Some(VectorOps.pqTrainedCodebooks(e01)),
        Some(VectorOps.pqResidualCodebooks(e01, cents)))
      .groupBy("method").agg(avg("recall").as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // compare with a ulp cushion: the recalls are per-query fractions
    // averaged in double, so two genuinely EQUAL rates (e.g. 11/30 on
    // both sides at 32 cells) can differ in the last bit from the
    // partial-aggregate summation order alone
    val eps = 1e-9
    assert(rec("ivfpq_res") >= rec("ivfpq") - eps,
      s"residual encoding lowered recall at sf0.01: $rec")
    assert(rec("ivfpq_res") >= rec("pq") - eps,
      s"assembled residual index trails plain PQ at sf0.01: $rec")
    // two-stage refine reorders the shortlist by exact cosine — its
    // recall can only meet or beat stage 1's (same candidate ceiling,
    // rank inversions near the cut corrected)
    val queryIds = Seq(0L, 1L, 2L, 3L, 4L, 5L)
    val resBooks = VectorOps.pqResidualCodebooks(e01, cents)
    val idx = VectorOps.ivfPqIndex(e01, cents, resBooks, residual = true)
    val exact = VectorOps.cosineTopK(e01, queryIds, 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = VectorOps.ivfPqRefineTopK(idx, e01, queryIds, 5, r = 20,
        nprobe = 2, cents, resBooks, residual = true)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refineRecall = refined.count(exact.contains).toDouble / exact.size
    assert(refineRecall >= rec("ivfpq_res"),
      f"refine lowered recall: $refineRecall%.3f vs stage-1 ${rec("ivfpq_res")}%.3f")
    // the two training-free compression points: sign-bit Hamming
    // shortlist and prefix-dim shortlist, both with exact rerank
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.count(exact.contains).toDouble / exact.size
    }
    val binR = recallOf(VectorOps.binaryTopK(e01, queryIds, 5))
    val preR = recallOf(VectorOps.prefixTopK(e01, queryIds, 5))
    info(f"sf0.01 recall@5: binary $binR%.3f prefix $preR%.3f " +
      f"refine $refineRecall%.3f ivfpq_res ${rec("ivfpq_res")}%.3f")
    // r9 measurement: binary 0.533, prefix 0.367 (floors leave headroom
    // for a fixture regeneration, not for a broken shortlist)
    assert(binR >= 0.3, s"sign-bit Hamming shortlist recall collapsed: $binR")
    assert(preR >= 0.2, s"prefix-dim shortlist recall collapsed: $preR")
  }

  test("cell-partitioned index artifact: probed read scans ONLY probed partitions; artifact serve ≡ in-memory serve") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val cents = VectorOps.trainedCentroids(emb)
    VectorOps.ivfPqIndex(emb, cents, books)
      .write.partitionBy("cell").parquet(s"$dir/idx")
    val queryIds = Seq(0L, 1L, 2L)
    val probed = VectorOps.probedCellsOf(emb, queryIds, cents, nprobe = 2)
    val schema = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT"
    val pruned = spark.read.schema(schema).parquet(s"$dir/idx")
      .where(col("cell").isin(probed: _*))
    // collect() through THIS QueryExecution so its scan metrics populate
    val n = pruned.collect().length.toLong
    val produced = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics("numOutputRows").value).sum
    val perCell = spark.read.schema(schema).parquet(s"$dir/idx")
      .groupBy("cell").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = probed.map(perCell.getOrElse(_, 0L)).sum
    assert(expect > 0 && expect < perCell.values.sum,
      "probes not selective on this fixture; test is vacuous")
    assert(n === expect)
    assert(produced === expect,
      s"scan produced $produced rows — unprobed partitions were read (probed hold $expect)")
    // the serve from the pruned artifact read is row-identical to the
    // in-memory x60 path (same probe ranking, same ADC arithmetic)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toSet
    val fromIdx = VectorOps.ivfPqTopKFromIndex(
      pruned, emb, queryIds, 5, nprobe = 2, cents, books)
    val inMem = VectorOps.ivfPqTopK(emb, queryIds, 5, nprobe = 2,
      Some(cents), Some(books))
    assert(rows(fromIdx) === rows(inMem))
    // plan shape: NO join — the probes attach as a literal-map explode
    // (a Generate), so the corpus frame never joins any frame
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
    val opt = fromIdx.queryExecution.optimizedPlan
    assert(opt.collect { case j: Join => j }.isEmpty,
      s"expected no join in the artifact serve:\n$opt")
    assert(opt.collect { case g: Generate => g }.size === 1,
      s"probe attach is not one literal explode:\n$opt")
  }

  test("cell-partitioned CHUNK index: probed read scans only probed partitions; stored serve ≡ in-memory serve") {
    // the x85/cindex twin of the doc-level artifact proof: the chunk
    // corpus is bigger (one row per chunk), so the partition prune
    // matters MORE here — scan metrics must show only probed cells read
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-civf").toString
    val cents = VectorOps.trainedCentroids(emb)
    val resBooks = VectorOps.pqResidualCodebooks(emb, cents)
    val cidx = VectorOps.chunkIvfPqIndex(
      VectorOps.chunkEmbeddings(docs, emb), cents, resBooks)
    cidx.write.partitionBy("cell").parquet(s"$dir/cidx")
    val queryIds = Seq(0L, 1L, 2L)
    val probe = VectorOps.probePlanOf(emb, queryIds, cents, nprobe = 2)
    val schema = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT"
    val pruned = spark.read.schema(schema).parquet(s"$dir/cidx")
      .where(col("cell").isin(probe.cells: _*))
    val n = pruned.collect().length.toLong
    val produced = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics("numOutputRows").value).sum
    val perCell = spark.read.schema(schema).parquet(s"$dir/cidx")
      .groupBy("cell").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = probe.cells.map(perCell.getOrElse(_, 0L)).sum
    assert(expect > 0 && expect < perCell.values.sum,
      "probes not selective on this fixture; test is vacuous")
    assert(n === expect)
    assert(produced === expect,
      s"chunk scan produced $produced rows — unprobed partitions were " +
        s"read (probed cells hold $expect)")
    // stored-artifact MaxSim serve ≡ the same chain over the in-memory
    // chunk-code frame (same probe ranking, same ADC, same windows)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    val fromIdx = VectorOps.chunkIvfPqTopKFromIndex(pruned, emb,
      queryIds, 5, nprobe = 2, cents, resBooks, Some(probe))
    val inMem = VectorOps.chunkIvfPqTopKFromIndex(
      cidx.where(col("cell").isin(probe.cells: _*)), emb,
      queryIds, 5, nprobe = 2, cents, resBooks, Some(probe))
    assert(rows(fromIdx).nonEmpty && rows(fromIdx) === rows(inMem))
    // plan shape: NO join — the probes attach as a literal-map explode
    // (a Generate), so the chunk-code frame never joins any frame, and
    // MaxSim is windows over probed survivors, not a join-back
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
    val opt = fromIdx.queryExecution.optimizedPlan
    assert(opt.collect { case j: Join => j }.isEmpty,
      s"expected no join in the chunk artifact serve:\n$opt")
    assert(opt.collect { case g: Generate => g }.size === 1,
      s"chunk probe attach is not one literal explode:\n$opt")
  }

  test("chunk refine lifts MaxSim recall over plain ADC at sf0.01 (the x87 claim, measured)") {
    // deterministic at a fixed fixture (no randomness anywhere in the
    // chain), so this pins the refine-justifies-its-cost claim the
    // same way the doc-level refine test pins x63's — r14 measurement:
    // adc 0.33, refine 0.67 over x44's 3 queries; 6 queries here
    val e01 = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val d01 = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text")
    val cents = VectorOps.trainedCentroids(e01)
    val rb = VectorOps.pqResidualCodebooks(e01, cents)
    val cEmb = VectorOps.chunkEmbeddings(d01, e01)
    val idx = VectorOps.chunkIvfPqIndex(cEmb, cents, rb)
    val qs = Seq(0L, 1L, 2L, 3L, 4L, 5L)
    val probe = VectorOps.probePlanOf(e01, qs, cents, nprobe = 2)
    val pruned = idx.where(col("cell").isin(probe.cells: _*))
    def docSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = docSet(VectorOps.multiVectorTopK(cEmb, e01, qs, 5))
    val plain = docSet(VectorOps.chunkIvfPqTopKFromIndex(pruned, e01,
      qs, 5, nprobe = 2, cents, rb, Some(probe)))
    val refined = docSet(VectorOps.chunkIvfPqRefineTopK(pruned, cEmb,
      e01, qs, 5, r = 20, nprobe = 2, cents, rb, Some(probe)))
    val rPlain = plain.count(exact.contains).toDouble / exact.size
    val rRef = refined.count(exact.contains).toDouble / exact.size
    info(f"sf0.01 chunk recall@5: adc $rPlain%.3f refine $rRef%.3f")
    assert(rRef >= rPlain,
      f"exact rerank lowered chunk recall: $rRef%.3f < $rPlain%.3f")
  }

  test("more cells lift recall at the shipped serve point (the x94 claim, measured)") {
    // the codebook axis moves the recall CEILING where nprobe/refine
    // only trade along it — the measurement NumCentroids=32 was set
    // from. sf0.01 (500 vectors): deterministic training + fixed
    // queries, so the ordering is exact, not statistical (measured
    // doc_refine@(np=2, r=40): 0.512 → 0.640 → 0.680 for 16/32/64).
    val e01 = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val d01 = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text")
    // the full 50-query sample the x94 gate measures with — recall@5
    // over 20 queries is a 100-sample statistic and the 64-cell point
    // visibly wobbles under it (observed 0.72/0.81/0.65)
    val curve = VectorOps.codebookCurve(e01, d01, (0L until 50L).toSeq, 5,
        cells = Seq(16, 32, 64), nprobes = Seq(2),
        refines = Seq(VectorOps.RefineShortlist))
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        r.getDouble(r.fieldIndex("recall"))).toMap
    for (m <- Seq("doc_refine", "chunk_refine")) {
      val (r16, r32, r64) = (curve((16, m)), curve((32, m)), curve((64, m)))
      assert(r32 >= r16 && r64 >= r32,
        s"$m recall not monotone in cells at the shipped point: " +
          s"$r16 / $r32 / $r64")
      // the lift is real, not a last-bit tie — the reason the default
      // moved (a flat curve here would mean the knob buys nothing)
      assert(r64 > r16 + 0.05,
        s"$m recall barely moves across a 4x cell sweep: $r16 -> $r64")
    }
  }

  test("more subspaces lift ADC recall; the shipped refine point absorbs the distortion (the x95 claim, measured)") {
    // the code-budget axis: m sub-codes per vector IS the stored bytes
    // per vector, and it bounds ADC reconstruction error. Measured at
    // sf0.01 (50-query sample, 32 cells): doc_adc@np=2 runs
    // 0.308 / 0.364 / 0.460 for m = 4/8/16 — the distortion effect —
    // while doc_refine@(np=2, r=40) is m-INVARIANT (0.640 all three):
    // the exact-rerank shortlist absorbs ADC error until wide probes
    // hand it more candidates than r can re-sort (np=8 refined:
    // 0.792 / 0.820 / 0.836). That pair of facts is why PqSubspaces
    // stays 8: halving bytes (m=4) is free ONLY at the refined point,
    // doubling them (m=16) buys nothing there.
    val e01 = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val d01 = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text")
    val curve = VectorOps.pqSubspacesCurve(e01, d01, (0L until 50L).toSeq, 5,
        ms = Seq(4, 8, 16), nprobes = Seq(2, 8),
        refines = Seq(VectorOps.RefineShortlist))
      .collect()
      .map(r => (r.getInt(0), r.getString(1),
        r.getInt(r.fieldIndex("nprobe"))) ->
        r.getDouble(r.fieldIndex("recall"))).toMap
    // ADC-only serves: monotone in m with a real lift (deterministic
    // training + fixed queries — exact, not statistical)
    for (meth <- Seq("doc_adc", "chunk_adc"); np <- Seq(2, 8)) {
      val (r4, r8, r16) =
        (curve((4, meth, np)), curve((8, meth, np)), curve((16, meth, np)))
      assert(r8 >= r4 && r16 >= r8,
        s"$meth@np=$np not monotone in m: $r4 / $r8 / $r16")
    }
    assert(curve((16, "doc_adc", 2)) > curve((4, "doc_adc", 2)) + 0.05,
      "doc ADC recall barely moves across a 4x code-budget sweep")
    // the shipped serve point: refine absorbs the distortion — m=8
    // must not trail m=16 by more than statistical noise there (a gap
    // opening here would say the shortlist stopped covering the ADC
    // error and the default needs re-deciding)
    for (meth <- Seq("doc_refine", "chunk_refine")) {
      val (r8, r16) = (curve((8, meth, 2)), curve((16, meth, 2)))
      assert(r8 >= r16 - 0.02,
        s"$meth@np=2: m=8 ($r8) trails m=16 ($r16) at the shipped point")
    }
  }

  test("finer sub-codebooks lift ADC recall; the shipped refine point absorbs the distortion (the x97 claim, measured)") {
    // the code-RESOLUTION axis: ksub entries per sub-codebook set how
    // finely each stored code resolves its subvector at log2(ksub)
    // BITS per code — the cheap sibling of x95's whole-code axis.
    // Deterministic training + fixed queries, so orderings are exact,
    // not statistical.
    val e01 = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val d01 = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text")
    val curve = VectorOps.pqKsubCurve(e01, d01, (0L until 50L).toSeq, 5,
        ksubs = Seq(8, 16, 32), nprobes = Seq(2, 8),
        refines = Seq(VectorOps.RefineShortlist))
      .collect()
      .map(r => (r.getInt(0), r.getString(1),
        r.getInt(r.fieldIndex("nprobe"))) ->
        r.getDouble(r.fieldIndex("recall"))).toMap
    for (meth <- Seq("doc_adc", "chunk_adc"); np <- Seq(2, 8)) {
      val (r8, r16, r32) =
        (curve((8, meth, np)), curve((16, meth, np)), curve((32, meth, np)))
      info(f"$meth@np=$np: ksub 8/16/32 -> $r8%.3f / $r16%.3f / $r32%.3f")
      assert(r16 >= r8 && r32 >= r16,
        s"$meth@np=$np not monotone in ksub: $r8 / $r16 / $r32")
    }
    assert(curve((32, "doc_adc", 2)) > curve((8, "doc_adc", 2)) + 0.02,
      "doc ADC recall barely moves across a 4x sub-centroid sweep")
    // the shipped serve point: refine absorbs the distortion — ksub=16
    // must not trail ksub=32 by more than statistical noise there (the
    // x95 device on the resolution axis: a gap opening here says the
    // shortlist stopped covering ADC error and the default needs
    // re-deciding)
    for (meth <- Seq("doc_refine", "chunk_refine")) {
      val (r16, r32) = (curve((16, meth, 2)), curve((32, meth, 2)))
      info(f"$meth@np=2: ksub 16/32 -> $r16%.3f / $r32%.3f")
      assert(r16 >= r32 - 0.02,
        s"$meth@np=2: ksub=16 ($r16) trails ksub=32 ($r32) at the shipped point")
    }
  }

  test("PQ beats nothing it shouldn't: reconstructed self-cosine is high on real vectors") {
    // the compression sanity floor: a 64-dim vector reconstructed from
    // 8 sub-centroids should still point mostly the same way — mean
    // cosine(v, recon(v)) well above 0 (a random codebook gives ~0)
    val recon = VectorOps.pqTopK(emb, Seq(0L), 1, Some(books)) // force build path
    assert(recon.count() >= 0)
    val codes = VectorOps.pqCodesWide(emb, books)
    val meanSelf = codes
      .select(graft.functions.VectorFunctions
        .cosineSimilarity(col("v"), VectorOps.reconOf(col("codes"), books)).as("c"))
      .where(!isnan(col("c")))
      .agg(avg("c")).collect()(0).getDouble(0)
    assert(meanSelf > 0.3,
      f"mean self-reconstruction cosine $meanSelf%.3f — codebook not learning")
  }
}
