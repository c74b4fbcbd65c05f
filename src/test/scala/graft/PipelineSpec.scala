package graft

import graft.operators.{Dedup, MultimodalOps, TextOps, VectorOps}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the LLM-pipeline operators (dedup / similarity /
  * text analysis / multimodal) on the sf0.001 fixtures. The DuckDB
  * oracle covers value-exactness; these specs cover the semantic
  * properties an oracle can't express (LSH recall, idempotence,
  * normalization invariance). */
class PipelineSpec extends AnyFunSuite with SparkSpec {

  private lazy val docs = Tables.documents(spark, sf).cache()
  private lazy val emb = Tables.embeddings(spark, sf).cache()

  test("minhash-LSH captures every high-jaccard pair (recall @ J>=0.9)") {
    val sh = docs.select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
    val a = sh.select(col("doc_id").as("da"), col("sh").as("sa"))
    val b = sh.select(col("doc_id").as("db"), col("sh").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val brute = a.join(b, col("da") < col("db"))
      .select(col("da"), col("db"),
        (inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter)).as("j"))
      .where(col("j") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain planted near-duplicates")
    val lsh = Dedup.nearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.subsetOf(lsh),
      s"LSH missed high-similarity pairs: ${brute diff lsh}")
  }

  test("native minhash kernel ≡ builtin md5/conv formula, per permutation") {
    // independent recomputation of sig_i from builtins (two staged
    // projections so md5 runs once per shingle; slow but unambiguous)
    val hashed = docs.select(col("doc_id"),
      transform(TextOps.shingles(col("text")), s => TextOps.hash32(s) % Dedup.P).as("hs"))
    val viaBuiltins = hashed.select(col("doc_id") +:
      Dedup.perms.zipWithIndex.map { case ((a, b), i) =>
        array_min(transform(col("hs"), h => (h * a + b) % Dedup.P)).as(s"s$i")
      }: _*)
    val kernel = Dedup.minHashSignatures(docs)
    assert(kernel.orderBy("doc_id").collect().map(_.toSeq).toSeq ===
      viaBuiltins.orderBy("doc_id").collect().map(_.toSeq).toSeq)
  }

  test("minhash signatures: 16 columns, stable across evaluations") {
    val a = Dedup.minHashSignatures(docs).orderBy("doc_id").collect()
    val b = Dedup.minHashSignatures(docs).orderBy("doc_id").collect()
    assert(a.head.length === 17) // doc_id + s0..s15
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // signature values live in [0, P)
    a.foreach(r => (1 to 16).foreach { i =>
      val s = r.getLong(i); assert(s >= 0 && s < Dedup.P)
    })
  }

  test("shingle-less docs: null signatures, never banded, results unchanged") {
    // a raw crawl carries many null/empty/whitespace docs; they must get
    // null signatures and be dropped BEFORE banding (an empty concat_ws
    // band key would make all of them pairwise candidates — O(m²))
    val blanks = spark.createDataFrame(Seq(
      (900001L, null.asInstanceOf[String], "xx", "crawl", 0L),
      (900002L, "", "xx", "crawl", 0L),
      (900003L, "   \n\t ", "xx", "crawl", 0L),
      (900004L, "  ", "xx", "crawl", 2L))).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    val mixed = docs.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(blanks)
    val sigs = Dedup.minHashSignatures(mixed)
    assert(sigs.where(col("doc_id") >= 900000L && col("s0").isNotNull).count() === 0L,
      "shingle-less docs must have null signatures")
    val base = Dedup.nearDupPairs(docs).collect().map(_.toSeq).toSet
    val withBlanks = Dedup.nearDupPairs(mixed).collect().map(_.toSeq).toSet
    assert(withBlanks === base,
      "blank docs must neither pair with each other nor perturb real pairs")
  }

  test("minhash kernel declares nullable output even on a non-nullable child") {
    // compute() returns null for a non-null EMPTY array; with a
    // non-nullable child and no nullable override, codegen would emit an
    // assignment to the literal `false` (uncompilable → interpreted
    // fallback). filter() of a non-nullable split() stays non-nullable.
    val df = spark.range(3).toDF("id").select(
      expr("filter(split('a,b', ','), s -> s = 'zzz')").as("sh"))
    assert(!df.schema("sh").nullable, "precondition: child must be non-nullable")
    val out = df.select(
      graft.functions.MinHash.signatures(col("sh"),
        Dedup.perms.map(_._1), Dedup.perms.map(_._2), Dedup.P).as("sigv"))
    assert(out.schema("sigv").nullable, "kernel output must declare nullable")
    assert(out.collect().forall(_.isNullAt(0)),
      "empty shingle array must yield a null signature")
  }

  test("shingles kernel ≡ builtin chain (values, order, blank→NULL, unicode)") {
    import spark.implicits._
    def builtinShingles(c: org.apache.spark.sql.Column, k: Int) = {
      val toks = TextOps.tokens(c)
      when(c.isNull || length(TextOps.normText(c)) === 0, lit(null))
        .otherwise(array_distinct(transform(
          sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
          i => concat_ws(" ", slice(toks, i, lit(k))))))
    }
    val weird = Seq(
      (900001L, null.asInstanceOf[String]), (900002L, ""), (900003L, " \n\t "),
      (900004L, "one"), (900005L, "a b"), (900006L, "a  b   c"),
      (900007L, "ÜNÏCODE Tökens ÜNÏCODE Tökens here"),
      (900008L, "x y x y x y")).toDF("doc_id", "text")
    val all = docs.select("doc_id", "text").unionByName(weird)
    for (k <- Seq(1, 3, 5)) {
      val rows = all.select(col("doc_id"),
        TextOps.shingles(col("text"), k).as("kernel"),
        builtinShingles(col("text"), k).as("builtin")).collect()
      rows.foreach { r =>
        assert(r.isNullAt(1) === r.isNullAt(2), s"null mismatch k=$k doc ${r.getLong(0)}")
        if (!r.isNullAt(1))
          assert(r.getSeq[String](1) === r.getSeq[String](2),
            s"shingle mismatch k=$k doc ${r.getLong(0)}")
      }
    }
  }

  test("simhash kernel ≡ builtin transform+filter bit votes") {
    import spark.implicits._
    def builtinSimHash(c: org.apache.spark.sql.Column) = {
      val hs = transform(TextOps.shingles(c), t => TextOps.hash32(t))
      val n = size(hs)
      (0 until TextOps.SimHashBits).map { b =>
        val cnt = size(filter(hs, h => shiftright(h, b).bitwiseAND(lit(1L)) === lit(1L)))
        when(cnt * 2 > n, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val weird = Seq((900001L, null.asInstanceOf[String], "xx", "s", 0L),
      (900002L, "", "xx", "s", 0L), (900003L, "one", "xx", "s", 3L),
      (900004L, "ünï ünï ünï tökens", "xx", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val all = docs.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(weird)
    val rows = TextOps.simHash(all).as("k")
      .join(all.select(col("doc_id"),
        coalesce(builtinSimHash(col("text")), lit(0L)).as("b")), "doc_id")
      .collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2),
      s"simhash mismatch for doc ${r.getLong(0)}"))
  }

  test("top-run-count kernel ≡ builtin aggregate(array_sort) fold") {
    val toks = TextOps.tokens(col("text"))
    val foldForm = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + lit(1))
          .otherwise(lit(1))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val both = docs.select(col("doc_id"),
      graft.functions.TextKernels.topRunCount(toks).as("kernel"),
      foldForm.as("fold")).collect()
    both.foreach(r => assert(r.getInt(1) === r.getInt(2),
      s"kernel/fold disagree for doc ${r.getLong(0)}"))
    // degenerate inputs: null array → null, empty array → 0
    val edge = spark.range(1).select(
      graft.functions.TextKernels.topRunCount(
        lit(null).cast("array<string>")).as("n"),
      graft.functions.TextKernels.topRunCount(
        expr("array()").cast("array<string>")).as("e")).collect()(0)
    assert(edge.isNullAt(0) && edge.getInt(1) === 0)
  }

  test("repetition metrics: template spam flagged, diverse text kept, counts exact") {
    import spark.implicits._
    val cases = Seq(
      (1L, "buy now click here buy now click here buy now click here", "en", "s", 0L),
      (2L, "the quick brown fox jumps over a lazy dog near the river bank", "en", "s", 0L),
      (3L, "a b a b a b a b", "en", "s", 0L))
    val m = TextOps.repetitionMetrics(cases.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    // doc 1: 12 tokens → 11 bigrams; "buy now"/"now click"/"click here"
    // appear 3× each ("here buy" 2×) → top frac 3/11; trigram repeats:
    // 10 trigrams, 4 distinct → 6/10 dup — flagged
    assert(m(1L)._1 === 11)
    assert(math.abs(m(1L)._2 - 3.0 / 11) < 1e-12)
    assert(math.abs(m(1L)._3 - 6.0 / 10) < 1e-12)
    assert(!m(1L)._4)
    // doc 2: all bigrams and trigrams unique — kept
    assert(m(2L)._2 === 1.0 / 12 && m(2L)._3 === 0.0 && m(2L)._4)
    // doc 3: pathological alternation — "a b" 4× of 7 bigrams, all
    // trigrams one of two values
    assert(math.abs(m(3L)._2 - 4.0 / 7) < 1e-12 && !m(3L)._4)
  }

  test("int8 quantization: range bound, half-step error bound, zero-vector safe") {
    import spark.implicits._
    import graft.operators.VectorOps
    val withZero = emb.select("vec_id", "embedding", "label")
      .unionByName(Seq((900001L, Array.fill(64)(0.0f), 0))
        .toDF("vec_id", "embedding", "label"))
    val out = VectorOps.quantizeInt8(withZero).collect()
    assert(out.length === emb.count() + 1)
    out.foreach { r =>
      val (scale, qmin, qmax, err) =
        (r.getDouble(1), r.getInt(3), r.getInt(4), r.getDouble(5))
      assert(qmin >= -127 && qmax <= 127, s"int8 range violated: [$qmin,$qmax]")
      // reconstruction error is at most half a quantization step (both
      // sides report 6dp-rounded values, so allow a 1e-6 rounding margin)
      assert(err <= scale / 254.0 + 1e-6, s"error $err exceeds half-step for scale $scale")
      if (r.getLong(0) == 900001L)
        assert(scale === 0.0 && qmin === 0 && qmax === 0 && err === 0.0)
    }
  }

  test("quantized ANN: high recall vs float ANN, rerank scores are exact cosines") {
    import graft.operators.VectorOps
    val qs = Seq(0L, 1L, 2L)
    val exact = VectorOps.annTopK(emb, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = VectorOps.annTopKQuantized(emb, qs, 5).collect()
    val quantSet = quant.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect quantSet).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 pool lost too much recall: $recall")
    // the reported score is the EXACT float cosine (rerank output), so
    // any (query, vec) shared with the float path scores identically
    val exactScores = VectorOps.annTopK(emb, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    quant.foreach { r =>
      exactScores.get((r.getLong(0), r.getLong(1)))
        .foreach(c => assert(c === r.getDouble(2)))
    }
  }

  test("filtered ANN: pre-filter semantics — true top-k among matching vectors") {
    import graft.operators.VectorOps
    val pred = col("label") % 2 === 0
    val got = VectorOps.annTopKFiltered(emb, Seq(0L, 1L), 5, pred).collect()
    assert(got.nonEmpty)
    // every result satisfies the predicate, ranks are cosine-descending
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(4))
      assert(byRank.forall(_.getInt(2) % 2 == 0), "predicate violated")
      val cosines = byRank.map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
    // pre-filter semantics: the result equals annTopK run over a corpus
    // restricted to matching vectors (queries still resolved unfiltered)
    val preFiltered = VectorOps.annTopKFiltered(
      emb.where(pred || col("vec_id").isin(0L, 1L)), Seq(0L, 1L), 5, pred)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet ===
      preFiltered, "filtering non-candidates must not change the result")
  }

  test("tf-idf: rare terms outrank ubiquitous ones, smoothed scores exact") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "common zebra common", "en", "s", 0L),
      (2L, "common common", "en", "s", 0L),
      (3L, "common yak", "en", "s", 0L)).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.tfIdfTopTerms(corpus, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getDouble(5))).toMap
    // doc 1: zebra df=1 → 1·ln(4/2); common df=3, tf=2 → 2·ln(4/4)=0
    assert(out((1L, 1))._1 === "zebra")
    assert(math.abs(out((1L, 1))._2 -
      BigDecimal(math.log(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out((1L, 2))._1 === "common" && out((1L, 2))._2 === 0.0)
    assert(out((3L, 1))._1 === "yak")
  }

  test("pii scrub: emails/ips/long numbers redacted and counted; clean text carries no residue") {
    import spark.implicits._
    val d = Seq(
      (1L, "Mail Bob.Smith+x@Corp.Example.ORG or admin@a.io from 192.168.0.1 card 4111111111111111", "en", "s", 0L),
      (2L, "no pii here at all", "en", "s", 0L)).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.piiScrub(d, col("text")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L)._1 === 2 && out(1L)._2 === 1)
    assert(out(1L)._3 === "mail <EMAIL> or <EMAIL> from <IP> card <NUM>")
    assert(out(2L) === ((0, 0, "no pii here at all")))
  }

  test("mixture sampling: rates derive from counts, cap at 1, zero weight drops the stratum") {
    import graft.operators.Sampling
    val w = Seq("en" -> 0.5, "de" -> 0.5, "es" -> 0.0, "fr" -> 0.0, "zh" -> 0.0)
    val out = Sampling.mixtureSample(docs, "lang", "doc_id", w, 100L)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byLang.contains("es") && !byLang.contains("fr") && !byLang.contains("zh"),
      s"zero-weight strata must drop entirely: $byLang")
    // sampled count tracks budget·w within hash-Bernoulli noise
    Seq("en", "de").foreach { l =>
      val n = byLang.getOrElse(l, 0L)
      assert(n > 20 && n < 80, s"$l sampled $n, expected ≈50")
    }
    // a budget beyond the corpus keeps everything (rate caps at 1)
    val all = Sampling.mixtureSample(docs, "lang", "doc_id",
      Seq("en" -> 0.2, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2),
      1000000L)
    assert(all.count() === docs.count())
    // determinism: same inputs, same sample
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Sampling.mixtureSample(docs, "lang", "doc_id", w, 100L)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("duplicate clusters: star contraction matches brute-force components") {
    import spark.implicits._
    // chain 1-2-3, triangle 10-11-12 with extra edge, bridge 20-21,
    // star 30-{31,32,33}, plus a chain long enough to need several rounds
    val edges = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L),
      (30L, 31L), (30L, 32L), (30L, 33L),
      (40L, 41L), (41L, 42L), (42L, 43L), (43L, 44L), (44L, 45L),
      (45L, 46L), (46L, 47L))
    val pairs = edges.toDF("doc_a", "doc_b").withColumn("jaccard", lit(1.0))
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force union-find on the driver
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = nodes.map(n => n -> find(n)).toMap
    assert(got === want)
    // chains are fully collapsed — the case the pairwise drop list misses
    assert(got(47L) === 40L && got(33L) === 30L)
  }

  test("incremental cluster maintenance ≡ full recompute over all pairs") {
    import spark.implicits._
    // hand-built: a new pair bridges two existing clusters → joint min
    val prev = Seq((1L, 1L), (5L, 1L), (2L, 2L), (9L, 2L), (40L, 40L))
      .toDF("doc_id", "cluster_id") // incl. a singleton (40)
    val bridge = Seq((5L, 9L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val merged = Dedup.duplicateClustersIncremental(prev, bridge).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === Map(1L -> 1L, 5L -> 1L, 2L -> 1L, 9L -> 1L, 40L -> 40L))

    // fixture: label slice A, then fold in every pair the full corpus
    // adds (cross pairs + slice-B-internal) — must equal the one-shot
    // clustering of all pairs
    val sliceA = docs.where(col("doc_id") % 2 === 0)
    val pairsA = Dedup.nearDupPairs(sliceA, 0.5)
    val labelsA = Dedup.duplicateClusters(pairsA)
    val allPairs = Dedup.nearDupPairs(docs, 0.5)
    val newPairs = allPairs.join(pairsA.select("doc_a", "doc_b"),
      Seq("doc_a", "doc_b"), "left_anti")
    assert(newPairs.count() > 0, "no incremental pairs; test is vacuous")
    val inc = Dedup.duplicateClustersIncremental(labelsA, newPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.duplicateClusters(allPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pairs only ever accumulate, so the node sets coincide and the
    // labelings must be identical
    assert(inc === full)
  }

  test("duplicate clusters on fixture pairs: pairs co-clustered, reps are minima, subsumes drop-list dedup") {
    val pairs = Dedup.nearDupPairs(docs, 0.5)
    val clusters = Dedup.duplicateClusters(pairs)
    val label = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every confirmed pair lands in one cluster
    pairs.select("doc_a", "doc_b").collect().foreach { r =>
      assert(label(r.getLong(0)) === label(r.getLong(1)))
    }
    // each cluster's representative is its minimum member
    label.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.keys.min === rep)
    }
    // cluster survivors ⊆ drop-list survivors: collapsing transitively
    // can only drop MORE docs than the pairwise drop list
    val dropListKept = Dedup.nearDupDedup(docs, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val clusterDropped = label.filter { case (d, rep) => d != rep }.keySet
    val clusterKept = docs.select("doc_id").collect().map(_.getLong(0)).toSet -- clusterDropped
    assert(clusterKept.subsetOf(dropListKept))
  }

  test("artifact-fed dedup chain ≡ recompute chain (pairs, dedup, curation)") {
    val sh = Dedup.shingleFrame(docs).cache()
    val sigs = Dedup.minHashSignaturesFrom(sh).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Dedup.nearDupPairsFrom(sigs, sh, 0.5)) ===
      rows(Dedup.nearDupPairs(docs, 0.5)))
    assert(rows(Dedup.nearDupDedupFrom(docs, sigs, sh, 0.8)) ===
      rows(Dedup.nearDupDedup(docs, 0.8)))
    assert(rows(Dedup.curationPipelineFrom(docs, sigs, sh, 0.8)) ===
      rows(Dedup.curationPipeline(docs, 0.8)))
    sh.unpersist(); sigs.unpersist()
  }

  test("cross-corpus pairs ≡ whole-corpus pairs restricted to cross pairs") {
    val shA = Dedup.shingleFrame(docs.where(col("doc_id") % 2 === 0))
    val shB = Dedup.shingleFrame(docs.where(col("doc_id") % 2 === 1))
    val cross = Dedup.crossCorpusPairs(
        Dedup.minHashSignaturesFrom(shA), shA,
        Dedup.minHashSignaturesFrom(shB), shB, 0.5)
      .collect()
      .map(r => ((r.getLong(0) min r.getLong(1), r.getLong(0) max r.getLong(1)),
        r.getDouble(2))).toSet
    val whole = Dedup.nearDupPairs(docs, 0.5).collect()
      .filter(r => r.getLong(0) % 2 != r.getLong(1) % 2)
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    assert(cross === whole)
  }

  test("exact dedup is idempotent and content keys are unique") {
    val once = Dedup.exactDedup(docs).cache()
    assert(once.select("content_key").distinct().count() === once.count())
    val again = Dedup.exactDedup(
      once.join(docs.select("doc_id", "text"), "doc_id"))
    assert(again.count() === once.count())
  }

  test("near-dup dedup leaves no detectable pair above the threshold") {
    val survivors = Dedup.nearDupDedup(docs, 0.8)
      .join(docs.select("doc_id", "text"), "doc_id")
    assert(Dedup.nearDupPairs(survivors, 0.8).count() === 0)
    // and it actually dropped something (fixture has planted dups)
    assert(survivors.count() < docs.count())
  }

  test("simhash separates near-dups from random pairs (hamming distance)") {
    val dupPairs = Dedup.nearDupPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupPairs.nonEmpty)
    val (na, nb) = dupPairs.head
    val h = TextOps.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    val nearDist = dist(h(na), h(nb))
    // distances of non-near-dup pairs (exclude every detected dup pair —
    // the fixture plants many)
    val ids = h.keys.toSeq.sorted.take(30)
    val randDists = for {
      i <- ids; j <- ids
      if i < j && !dupPairs.contains((i, j))
    } yield dist(h(i), h(j))
    assert(nearDist <= 2, s"near-dup pair should be simhash-close, got $nearDist")
    assert(nearDist < randDists.min,
      s"near-dup hamming $nearDist should undercut random pairs (min ${randDists.min})")
  }

  test("fingerprint is invariant under whitespace/case noise") {
    val noisy = docs.withColumn("text",
      upper(regexp_replace(col("text"), lit(" "), lit("   "))))
    val clean = TextOps.fingerprint(docs).withColumnRenamed("fingerprint", "fp_clean")
    val dirty = TextOps.fingerprint(noisy).withColumnRenamed("fingerprint", "fp_noisy")
    val diff = clean.join(dirty, "doc_id")
      .where(col("fp_clean") =!= col("fp_noisy")).count()
    assert(diff === 0)
  }

  test("ANN candidates come from the query's bucket; top-1 of bucket matches brute force within it") {
    val ann = VectorOps.annTopK(emb, Seq(0L, 1L, 2L), 5).cache()
    val buckets = emb.select(col("vec_id"),
      VectorOps.bucketOf(transform(col("embedding"), _.cast("double"))).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ann.collect().foreach { r =>
      val (qid, vid, bucket) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(bucket === buckets(qid), "candidate outside query bucket")
      assert(bucket === buckets(vid))
    }
    // per query at most k rows, ranked contiguously from 1
    val byQ = ann.collect().groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val rns = rows.map(_.getInt(4)).sorted
      assert(rns === (1 to rows.length).toArray)
    }
  }

  test("multi-probe ANN: recall vs brute force never below single-probe, candidates within probe set") {
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val k = 10
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = resultSet(VectorOps.cosineTopK(emb, qs, k))
    val single = resultSet(VectorOps.annTopK(emb, qs, k))
    val multi = resultSet(VectorOps.annTopKMultiProbe(emb, qs, k))
    def recall(ann: Set[(Long, Long)]) =
      if (brute.isEmpty) 1.0 else ann.intersect(brute).size.toDouble / brute.size
    assert(recall(multi) >= recall(single),
      s"multi-probe recall ${recall(multi)} < single-probe ${recall(single)}")
    // probed buckets differ from the query's own by at most one plane bit
    val buckets = emb.select(col("vec_id"),
      VectorOps.bucketOf(transform(col("embedding"), _.cast("double"))).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    VectorOps.annTopKMultiProbe(emb, qs, k).collect().foreach { r =>
      val d = java.lang.Long.bitCount(buckets(r.getLong(0)) ^ buckets(r.getLong(1)))
      assert(d <= 1, s"candidate ${r.getLong(1)} is $d plane-bits from query")
    }
  }

  test("language-ID picks the max-scoring profile with fixed tiebreak") {
    val rows = TextOps.languageId(docs).collect()
    val langs = TextOps.langProfiles.map(_._1)
    rows.foreach { r =>
      val scores = langs.zipWithIndex.map { case (l, i) => l -> r.getInt(2 + i) }
      val best = scores.map(_._2).max
      val expected = scores.collectFirst { case (l, s) if s == best => l }.get
      assert(r.getAs[String]("lang_pred") === expected)
    }
  }

  test("space-saving top-tokens sketch: exact at full capacity, overestimates below it") {
    import graft.functions.TopTokens
    val exact = TopTokens.langTopTokens(docs, 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // capacity >= vocabulary (31 words) → no evictions → identical
    val full = TopTokens.langTopTokensSketch(docs, 5, capacity = 64)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(full.sorted === exact.sorted)
    // tight capacity: counts may only OVERestimate (Space-Saving bound)
    val truth = TopTokens.langTopTokens(docs, 31)
      .collect().map(r => ((r.getString(0), r.getString(2)), r.getLong(3))).toMap
    val sketched = TopTokens.langTopTokensSketch(docs, 5, capacity = 8).collect()
    sketched.foreach { r =>
      val key = (r.getString(0), r.getString(2))
      truth.get(key).foreach(n => assert(r.getLong(3) >= n,
        s"sketch undercounted $key: ${r.getLong(3)} < $n"))
    }
  }

  test("deterministic sampling: stable across runs, fraction honored, quota capped, samples nest") {
    import graft.operators.Sampling
    val s25 = Sampling.hashSample(docs, "doc_id", 0.25)
    val ids25 = s25.select("doc_id").collect().map(_.getLong(0)).toSet
    // reproducible: same rows on re-evaluation
    assert(ids25 === Sampling.hashSample(docs, "doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    // fraction approximately honored (hash uniformity, generous bound)
    val frac = ids25.size.toDouble / docs.count()
    assert(frac > 0.15 && frac < 0.35, s"25% sample selected ${frac * 100}%")
    // monotone: a smaller fraction's sample nests inside a larger one's
    val ids10 = Sampling.hashSample(docs, "doc_id", 0.10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids10.subsetOf(ids25), "hash samples must nest by fraction")
    // stratified quota: at most N per stratum, deterministic
    val q = Sampling.stratifiedQuota(docs, "lang", "doc_id", 7)
    val perLang = q.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.values.forall(_ <= 7), s"quota exceeded: $perLang")
    assert(perLang.values.exists(_ == 7), "no stratum filled its quota; fixture too small?")
    val again = Sampling.stratifiedQuota(docs, "lang", "doc_id", 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(q.select("doc_id").collect().map(_.getLong(0)).toSet === again)
  }

  test("misra-gries: coverage + bounds hold under decrement pressure, any partitioning") {
    import spark.implicits._
    import graft.functions.MisraGriesAgg.misraGries
    // zipf-ish skew over 1000 distinct tokens, k=8 — the sketch is
    // forced to decrement constantly (vocab >> k)
    val k = 8
    val rows = (0 until 20000).map { i =>
      val t = if (i % 3 == 0) s"hot${i % 2}" else s"cold${i % 1000}"
      (i.toLong, t)
    }
    val exact = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = rows.size.toLong
    val floor = n.toDouble / (k + 1)
    val trueHeavy = exact.filter(_._2 > floor).keySet
    assert(trueHeavy.nonEmpty, "fixture has no heavy hitters; test is vacuous")
    for (parts <- Seq(1, 4, 32); reversed <- Seq(false, true)) {
      val df0 = (if (reversed) rows.reverse else rows).toDF("id", "token")
        .repartition(parts, col("id"))
      val sk = df0.agg(misraGries(col("token"), k).as("sk"))
        .collect().head.getMap[String, Long](0)
      assert(sk.size <= k, s"sketch exceeded $k counters: ${sk.size}")
      trueHeavy.foreach { t =>
        val est = sk.get(t)
        assert(est.isDefined,
          s"heavy '$t' (c=${exact(t)}) missing at parts=$parts rev=$reversed")
        assert(est.get <= exact(t) && est.get >= exact(t) - floor,
          s"'$t' counter ${est.get} outside [c-n/(k+1), c]=[${exact(t) - floor}, ${exact(t)}]")
      }
      // every surviving counter is a lower bound for SOME real count
      sk.foreach { case (t, est) =>
        assert(est <= exact.getOrElse(t, 0L), s"counter for '$t' overcounts")
      }
    }
  }

  test("weighted sample: A-ES selection equals the driver reference, reproducible") {
    import graft.operators.Sampling
    val n = 50
    val got = Sampling.weightedSample(
      docs.select("doc_id", "lang", "source", "n_chars"), "n_chars", "doc_id", n)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.size === n)
    assert(got === Sampling.weightedSample(
      docs.select("doc_id", "lang", "source", "n_chars"), "n_chars", "doc_id", n)
      .select("doc_id").collect().map(_.getLong(0)).toSet) // reproducible
    // driver reference: same hash-uniform, same ln(u)/w key, same rounding
    def h32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)
    val ref = docs.select("doc_id", "n_chars").collect()
      .map { r =>
        val w0 = r.getLong(1).toDouble
        val (id, w) = (r.getLong(0), if (w0 > 0) w0 else 1.0)
        val u = (h32(id.toString) % Sampling.Denom + 1).toDouble /
          (Sampling.Denom + 1).toDouble
        (id, BigDecimal(math.log(u) / w).setScale(12, BigDecimal.RoundingMode.HALF_UP))
      }
      .sortBy { case (id, pri) => (-pri, id.toString) }
      .take(n).map(_._1).toSet
    assert(got === ref, "A-ES selection diverges from the driver reference")
  }

  test("unigram surprisal matches the hand formula; rarer text scores more bits") {
    import spark.implicits._
    // corpus: 8 tokens total; "a"×4, "b"×2, "c"×1, "d"×1
    val docs = Seq((1L, "a a a a"), (2L, "b b"), (3L, "c d")).toDF("doc_id", "text")
    val got = TextOps.unigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // power-of-two probabilities -> log2 exact, no rounding ambiguity
    assert(got(1L) === ((4L, 1.0))) // p(a)=4/8 -> 1 bit/token
    assert(got(2L) === ((2L, 2.0))) // p(b)=2/8 -> 2 bits
    assert(got(3L) === ((2L, 3.0))) // p(c)=p(d)=1/8 -> 3 bits
    assert(got(1L)._2 < got(2L)._2 && got(2L)._2 < got(3L)._2)
  }

  test("bigram surprisal matches the hand formula; <2-token docs drop") {
    import spark.implicits._
    // bigram counts: (a,b)×2, (a,c)×2 -> p(·|a)=1/2 (1 bit each);
    // (c,b) and (b,d) are their prefix's only continuation (0 bits)
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "a c b d"),
      (5L, "z")).toDF("doc_id", "text")
    val got = TextOps.bigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) === ((1L, 1.0)))
    assert(got(2L) === ((1L, 1.0)))
    assert(got(3L) === ((1L, 1.0)))
    assert(got(4L) === ((3L, 0.333333))) // (1 + 0 + 0) / 3, rounded 6dp
    assert(!got.contains(5L)) // a single-token doc has no bigrams
  }

  test("surprisal bands: equal-population cut per lang, ordered by surprisal") {
    val got = TextOps.surprisalBands(docs).collect()
    assert(got.length === docs.count())
    got.groupBy(_.getString(1)).foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_.getLong(3)).view.mapValues(_.size).toMap
      assert(sizes.keySet === Set(1L, 2L, 3L), s"$lang missing a band")
      assert(sizes.values.max - sizes.values.min <= 1, s"$lang unbalanced: $sizes")
      // cut respects the surprisal order: band b's max <= band b+1's min
      def bits(b: Long) = rows.filter(_.getLong(3) == b).map(_.getDouble(2))
      assert(bits(1L).max <= bits(2L).min && bits(2L).max <= bits(3L).min)
    }
  }

  test("incremental semantic dedup ≡ batch; a bridging vector merges old clusters") {
    import spark.implicits._
    import graft.operators.VectorOps
    // engineer vectors in the plane of (u = LSH plane 0's direction, w ⊥ u)
    // so every vector has positive dot with plane 0 -> one shared bucket
    // under numPlanes = 1, and cosines are pure functions of the angles
    val p = VectorOps.planesFor(1).head.toArray
    val pn = math.sqrt(p.map(x => x * x).sum)
    val u = p.map(_ / pn)
    val e0 = Array.tabulate(VectorOps.Dim)(i => if (i == 0) 1.0 else 0.0)
    val d0 = e0.zip(u).map { case (a, b) => a * b }.sum
    val w0 = e0.zip(u).map { case (a, b) => a - d0 * b }
    val wn = math.sqrt(w0.map(x => x * x).sum)
    val w = w0.map(_ / wn)
    def mix(deg: Double): Array[Float] = {
      val t = math.toRadians(deg)
      u.zip(w).map { case (a, b) => (math.cos(t) * a + math.sin(t) * b).toFloat }
    }
    // old: 0° and 36° (cosine 0.809 < 0.9 -> two singleton clusters);
    // new: 18° bridges both (cosine 0.951 to each) -> one merged cluster
    val old = Seq((1L, mix(0)), (2L, mix(36))).toDF("vec_id", "embedding")
    val nw = Seq((3L, mix(18))).toDF("vec_id", "embedding")
    val prev = VectorOps.semanticDedup(old, 0.9, numPlanes = 1)
    assert(prev.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 1L), (2L, 2L))) // unmerged before the bridge arrives
    def labels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val inc = labels(VectorOps.semanticDedupIncremental(prev, old, nw, 0.9,
      numPlanes = 1))
    assert(inc === Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false)))
    val batch = labels(VectorOps.semanticDedup(
      old.unionByName(nw), 0.9, numPlanes = 1))
    assert(inc === batch)
  }

  test("incremental semantic dedup equals the batch run on the fixture") {
    import graft.operators.VectorOps
    val old = emb.where(col("vec_id") % 2 === 0)
    val nw = emb.where(col("vec_id") % 2 === 1)
    def labels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val inc = labels(VectorOps.semanticDedupIncremental(
      VectorOps.semanticDedup(old, 0.2), old, nw, 0.2))
    val batch = labels(VectorOps.semanticDedup(emb, 0.2))
    assert(inc === batch)
    assert(inc.nonEmpty && inc.exists(!_._3)) // dedup actually collapsed something
  }

  test("approx surprisal bands agree with the exact cut within one band") {
    val exact = TextOps.surprisalBands(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val approx = TextOps.surprisalBandsApprox(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(approx.keySet === exact.keySet)
    assert(approx.values.toSet.subsetOf(Set(1L, 2L, 3L)))
    val off = approx.count { case (id, b) => math.abs(b - exact(id)) > 1 }
    assert(off === 0, s"$off docs moved more than one band")
    val same = approx.count { case (id, b) => b == exact(id) }
    assert(same >= (exact.size * 0.9).toInt,
      s"only $same/${exact.size} docs band-stable; sketch accuracy suspect")
  }

  test("approx length deciles agree with the exact ntile within one band") {
    import graft.operators.Sampling
    val exact = Sampling.lengthDeciles(docs, "lang", "n_chars", "doc_id")
      .select("doc_id", "decile").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val approx = Sampling.lengthDecilesApprox(docs, "lang", "n_chars")
      .select("doc_id", "decile").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    assert(approx.values.forall(d => d >= 1L && d <= 10L))
    val off = approx.count { case (id, d) => math.abs(d - exact(id)) > 1 }
    assert(off === 0, s"$off docs moved more than one decile")
    val same = approx.count { case (id, d) => d == exact(id) }
    assert(same >= (exact.size * 0.8).toInt,
      s"only $same/${exact.size} docs decile-stable; sketch accuracy suspect")
  }

  test("two-level packing: single sub-bucket ≡ exact; multi-bucket keeps invariants") {
    import graft.operators.Sampling
    val tokens = docs.select(col("doc_id"), col("lang"),
      size(TextOps.tokens(col("text"))).as("n_tokens"))
    // targetPacksPerBucket large enough → one sub-bucket per stratum →
    // the two-level form IS the exact first-fit
    val exact = Sampling.packByBudget(tokens, "lang", "doc_id", "n_tokens", 512L)
      .select("doc_id", "pack_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val one = Sampling.packByBudgetTwoLevel(tokens, "lang", "doc_id",
      "n_tokens", 512L, targetPacksPerBucket = 1000000)
      .select("doc_id", "pack_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one === exact)
    // small targetPacksPerBucket → real sub-bucketing; verify against a
    // full driver-side reference simulation of the two-level build
    // (sub-bucket hash, per-sub-bucket first-fit, prefix offsets)
    val budget = 512L
    val tpb = 2
    val multi = Sampling.packByBudgetTwoLevel(tokens, "lang", "doc_id",
      "n_tokens", budget, targetPacksPerBucket = tpb)
      .select("doc_id", "pack_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi.keySet === exact.keySet) // row-preserving
    val base = tokens.select(col("doc_id"), col("lang"), col("n_tokens"),
      TextOps.hash32(col("doc_id").cast("string")).as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong, r.getLong(3)))
    val expected = base.groupBy(_._2).flatMap { case (_, rs) =>
      val tot = rs.map(_._3).sum
      val nb = math.max(1L, math.ceil(tot.toDouble / (budget.toDouble * tpb)).toLong)
      val bySb = rs.groupBy(t => java.lang.Math.floorMod(t._4, nb))
      // local first-fit per sub-bucket in key order
      val locals = bySb.map { case (sb, ds) =>
        var cum = 0L
        val ids = ds.sortBy(_._1).map { d =>
          val lp = (cum.toDouble / budget).toLong
          cum += d._3
          d._1 -> lp
        }
        sb -> ids
      }
      // exclusive prefix offsets of per-sub-bucket pack counts, in sb order
      val np = locals.view.mapValues(ids => ids.map(_._2).max + 1).toMap
      val sbs = locals.keys.toSeq.sorted
      val offs = sbs.zip(sbs.scanLeft(0L)((acc, sb) => acc + np(sb))).toMap
      locals.toSeq.flatMap { case (sb, ids) =>
        ids.map { case (id, lp) => id -> (offs(sb) + lp) }
      }
    }
    assert(multi === expected,
      s"two-level pack ids diverge from the reference simulation: " +
        s"${(multi.toSet diff expected.toSet).take(5)}")
    // the data-side window is keyed by (stratum, sub-bucket), never the
    // full stratum — the dominant-stratum straggler is the whole point
    val opt = Sampling.packByBudgetTwoLevel(tokens, "lang", "doc_id",
      "n_tokens", 512L, targetPacksPerBucket = 2)
      .queryExecution.optimizedPlan.toString
    // partition spec (lang, _sb) then the doc_id sort key — the comma
    // after _sb distinguishes it from the offsets window, which merely
    // ORDERS by _sb ("_sb#N ASC") over the tiny counts frame
    assert("windowspecdefinition\\(lang#\\d+, _sb#\\d+L?, doc_id#\\d+L? ASC"
      .r.findFirstIn(opt).isDefined,
      s"data window not sub-bucketed:\n$opt")
  }

  test("token-budget selection equals the global greedy prefix at every budget") {
    import graft.operators.Sampling
    val scored = TextOps.qualityScore(docs)
      .select("doc_id", "n_tokens", "uniq_ratio").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val order = scored.sortBy(t => (-t._3, t._1))
    def greedy(budget: Long): Set[Long] = {
      var cum = 0L
      order.takeWhile { t => cum += t._2; cum <= budget }.map(_._1).toSet
    }
    val total = scored.map(_._2.toLong).sum
    for (b <- Seq(0L, 500L, 5000L, graft.registry.PipelinePack.SelectBudget, total)) {
      val got = Sampling.selectByTokenBudget(docs, b)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === greedy(b), s"budget $b")
    }
    assert(greedy(total).size === scored.length) // whole-corpus edge exercised
    assert(greedy(500L).nonEmpty && greedy(500L).size < scored.length)
    // plan shape: the only window is keyed by the quality bucket (the
    // filtered boundary bucket) — never a partition-less global cumsum
    val plan = Sampling.selectByTokenBudget(docs, 500L)
      .queryExecution.optimizedPlan.toString
    assert("windowspecdefinition\\(_qb#\\d+".r.findFirstIn(plan).isDefined,
      s"boundary window not bucket-keyed:\n$plan")
    assert("windowspecdefinition\\((uniq_ratio|n_tokens|doc_id)#".r
      .findFirstIn(plan).isEmpty,
      s"global (partition-less) cumsum window found:\n$plan")
  }

  test("cluster representatives pick the highest-quality member, agg-only plan") {
    val pairs = Dedup.nearDupPairs(docs, 0.5)
    val clusters = Dedup.duplicateClusters(pairs).cache()
    val q = TextOps.qualityScore(docs)
    val reps = Dedup.clusterRepresentatives(clusters, q)
    val got = reps.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val qm = q.select("doc_id", "uniq_ratio").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cl = clusters.collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = cl.groupBy(_._2).map { case (cid, ms) =>
      val best = ms.map(_._1).minBy(d => (-qm(d), d))
      (cid, best, qm(best), ms.size.toLong)
    }.toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture should contain duplicate clusters")
    // the representative is a member of its own cluster
    val byDoc = cl.toMap
    got.foreach { case (cid, rep, _, _) => assert(byDoc(rep) === cid) }
    // argmax runs as a map-side-combined struct aggregate: no window,
    // no buffered member list (hub-cluster safe)
    val plan = reps.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("windowspecdefinition"), s"window in plan:\n$plan")
    assert(!plan.contains("collect_set") && !plan.contains("collect_list"),
      s"buffered member list in plan:\n$plan")
  }

  test("contamination join twin ≡ broadcast form; no vocab buffer; null-text safe") {
    val bench = docs.where(col("doc_id") < 5)
    val cand = docs.where(col("doc_id") >= 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    val broad = rows(Dedup.contamination(cand, bench, 0.25))
    val joined = Dedup.contaminationJoin(cand, bench, 0.25)
    assert(rows(joined) === broad)
    assert(broad.nonEmpty)
    // the twin must never funnel the vocabulary through an aggregation
    // buffer — that single-task array is exactly what it replaces
    val plan = joined.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("collect_list") && !plan.contains("collect_set"),
      s"vocab buffered in an aggregate:\n$plan")
    // x52 robustness: a NULL-text doc has NULL quality — excluded, not
    // an NPE in the histogram walk
    import spark.implicits._
    val withNull = Seq((1L, "alpha beta gamma"), (2L, null))
      .toDF("doc_id", "text")
    val sel = graft.operators.Sampling.selectByTokenBudget(withNull, 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sel === Set(1L))
  }

  test("shard assignment is deterministic, partition-independent, and balanced") {
    import graft.operators.Sampling
    val base = spark.range(0, 10000)
      .select(col("id").as("doc_id"), lit(1).as("t"))
    def assign(df: org.apache.spark.sql.DataFrame) =
      Sampling.assignShards(df, "doc_id", 16).select("doc_id", "shard")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = assign(base)
    assert(a === assign(base.repartition(7))) // placement ⊥ partitioning
    val stats = Sampling.shardStats(base, "doc_id", "t", 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stats.length === 16)
    assert(stats.map(_._2).sum === 10000L) // partition of the corpus
    val perShard = stats.map(_._2)
    assert(perShard.max <= 2 * perShard.min,
      s"hash shard imbalance: ${perShard.toSeq.sorted}")
    // map-only + one aggregate: no window anywhere
    val plan = Sampling.shardStats(base, "doc_id", "t", 16)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("windowspecdefinition"))
    // output-column collisions rejected, not silently overwritten
    intercept[IllegalArgumentException] {
      Sampling.assignShards(base.withColumn("shard", lit(0L)), "doc_id", 16)
    }
    intercept[IllegalArgumentException] {
      Sampling.selectScoredByBudget(
        base.select(col("doc_id"), col("t").as("n_tokens"),
          lit(0.5).as("uniq_ratio"), lit(1).as("_qb")), 10L)
    }
  }

  test("bm25 ranking equals a driver-side reference on a toy corpus") {
    import spark.implicits._
    val corpus = Map(
      0L -> Seq("spark", "join", "join", "table"),
      1L -> Seq("spark", "table", "table", "table"),
      2L -> Seq("join", "join", "join", "spark", "spark"),
      3L -> Seq("window", "scan", "batch"))
    val toy = corpus.toSeq.sortBy(_._1)
      .map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
    val queries = Seq(0L -> Seq("spark", "join"), 1L -> Seq("table"))
    val got = TextOps.bm25TopK(toy, queries, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // driver reference: same formula, same decimal grid, same rank rule
    val n = corpus.size
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    val df = corpus.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size)
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: BigDecimal) = x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = queries.flatMap { case (qid, terms) =>
      corpus.toSeq.flatMap { case (d, toks) =>
        val parts = terms.flatMap { t =>
          val tf = toks.count(_ == t)
          if (tf == 0) None else {
            val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
            Some(r9(idf * (tf * (TextOps.Bm25K1 + 1)) /
              (tf + TextOps.Bm25K1 *
                (1.0 - TextOps.Bm25B + TextOps.Bm25B * toks.size / avgdl))))
          }
        }
        if (parts.isEmpty) None else Some((d, r6(parts.sum)))
      }.sortBy { case (d, s) => (-s, d) }.take(3).zipWithIndex
        .map { case ((d, s), i) => (qid, d, s, i + 1) }
    }.toSet
    assert(got === expected)
    assert(got.map(_._1) === Set(0L, 1L))
    // doc 3 matches no query term and must appear nowhere
    assert(!got.exists(_._2 == 3L))
  }

  test("ann recall grid is complete; lsh row equals the manual intersection") {
    import graft.operators.VectorOps
    val qs = Seq(0L, 1L, 2L)
    val got = VectorOps.annRecall(emb, qs, 5).collect()
    assert(got.length === VectorOps.RecallMethods.size * qs.size)
    got.foreach { r =>
      assert(r.getLong(2) === 5L) // corpus large enough: exact_n = k
      val recall = r.getDouble(4)
      assert(recall >= 0.0 && recall <= 1.0)
      assert(math.abs(recall - r.getLong(3).toDouble / r.getLong(2)) < 1e-9)
    }
    val exact = VectorOps.cosineTopK(emb, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.annTopK(emb, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hitByQ = (exact intersect lsh).groupBy(_._1).view.mapValues(_.size).toMap
    got.filter(_.getString(0) == "lsh").foreach { r =>
      assert(r.getLong(3) === hitByQ.getOrElse(r.getLong(1), 0).toLong)
    }
  }

  test("anchor-hash kernel ≡ builtin md5/conv chain, per position, incl. unicode") {
    import spark.implicits._
    val a = 5
    val cases = Seq(
      (1L, "the quick brown fox jumps over it"),
      (2L, "exact"),                       // exactly one window
      (3L, "tiny"),                        // < anchorLen -> null
      (4L, "naïve café — ünïcödé ✓ text"), // multi-byte code points
      (5L, "")).toDF("doc_id", "t")
    val viaKernel = cases.select(col("doc_id"),
        posexplode(graft.functions.TextKernels.anchorHashes(col("t"), a))
          .as(Seq("i", "h")))
      .select(col("doc_id"), (col("i") + 1).as("pos"), col("h"))
    val viaBuiltins = cases
      .where(length(col("t")) >= a)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("t")) - (a - 1))).as("pos"), col("t"))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("t").substr(col("pos"), lit(a))), 1, 15), 16, 10)
          .cast("long").as("h"))
    val k = viaKernel.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val b = viaBuiltins.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(k === b)
    assert(k.nonEmpty && k.keys.exists(_._1 == 4L)) // unicode rows really compared
  }

  test("winnow kernel ≡ builtin slice/array_min chain, incl. short arrays") {
    import spark.implicits._
    val w = Dedup.WinnowW
    val rng = new scala.util.Random(42)
    val cases = (Seq(
      Seq(5L),                       // n < w: one truncated window
      Seq(3L, 1L, 2L),               // n < w with interior min
      (1L to 7L).toSeq,              // n = w - 1
      (1L to 8L).toSeq,              // n = w exactly
      Seq.fill(30)(7L),              // all-equal: one distinct fingerprint
      (30L to 1L by -1).toSeq        // strictly decreasing: min slides
    ) ++ Seq.tabulate(20)(i => Seq.fill(5 + rng.nextInt(60))(rng.nextLong())))
      .zipWithIndex.map { case (hs, i) => (i.toLong, hs) }
      .toDF("id", "hs")
    val viaKernel = cases.select(col("id"),
      graft.functions.TextKernels.winnow(col("hs"), w).as("fp"))
    val viaBuiltins = cases.select(col("id"), array_distinct(
      transform(sequence(lit(1), greatest(size(col("hs")) - (w - 1), lit(1))),
        i => array_min(slice(col("hs"), i, lit(w))))).as("fp"))
    val k = viaKernel.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = viaBuiltins.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(k === b) // values AND first-occurrence order
  }

  test("winnowing: selection matches a driver reference; shared-run guarantee holds") {
    import spark.implicits._
    val k = Dedup.WinnowK
    val w = Dedup.WinnowW
    // shared run of exactly k + w - 1 chars — the guarantee boundary
    val shared = "abcdefghijklmnopqrs".take(k + w - 1)
    assert(shared.length === k + w - 1)
    val d = Seq(
      (1L, s"unrelated prefix one $shared"),
      (2L, s"$shared totally different tail"),
      (3L, "no overlap with the others at all here")).toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // driver reference: same md5-derived hashes, same window-min rule
    def ref(text: String): Set[Long] = {
      val t = text.toLowerCase.replaceAll("[ \\t\\n\\x0B\\f\\r]+", " ").trim
      val hs = t.sliding(k).map { g =>
        java.lang.Long.parseLong(
          java.security.MessageDigest.getInstance("MD5").digest(g.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(15), 16)
      }.toVector
      (0 to math.max(hs.length - w, 0)).map(i => hs.slice(i, i + w).min).toSet
    }
    Seq(1L, 2L, 3L).foreach { id =>
      val text = d.where(col("doc_id") === id).collect().head.getString(1)
      assert(got(id) === ref(text), s"doc $id selection diverges from reference")
    }
    // guarantee: docs 1 and 2 share a >= k+w-1 run -> >= 1 shared fingerprint
    assert((got(1L) intersect got(2L)).nonEmpty, "winnowing guarantee violated")
    assert((got(1L) intersect got(3L)).isEmpty, "false sharing with unrelated doc")
    // ...and the guarantee must survive winnowPairs' DEFAULTS end-to-end:
    // a boundary run promises exactly ONE shared fingerprint, so any
    // default minShared > 1 would silently void it (regression pin)
    val pairs = Dedup.winnowPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), s"boundary pair lost through defaults: $pairs")
  }

  test("substring dedup recovers the maximal shared extent exactly once") {
    import spark.implicits._
    // 15 distinct words -> no internal repetition, so the maximal common
    // run between doc 1 and doc 2 is exactly `shared` (87 chars >= the
    // 60-char MinExtent); doc 2 carries it at position 1
    val shared = (1 to 15).map(i => f"w$i%02d").mkString(" ") + " end marker run"
    val prefix = "unrelated head section "
    val d = Seq(
      (1L, prefix + shared),
      (2L, shared + " different tail entirely"),
      (3L, "totally different text with no overlap at all whatsoever here"))
      .toDF("doc_id", "text")
    val got = Dedup.substringDups(d).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) === (1L, 2L))
    assert(r.getAs[Int]("a_start") === prefix.length + 1)
    assert(r.getAs[Int]("b_start") === 1)
    assert(r.getLong(4) === shared.length.toLong)
  }

  test("cross-corpus substring dedup reports only A-to-B extents") {
    import spark.implicits._
    val shared = (1 to 15).map(i => f"x$i%02d").mkString(" ") + " common block"
    val corpusA = Seq(
      (1L, "alpha head " + shared),
      (2L, "beta head " + shared)) // within-A pair: must NOT be reported
      .toDF("doc_id", "text")
    val corpusB = Seq(
      (10L, shared + " new crawl tail"),
      (11L, "entirely fresh content with nothing shared here at all"))
      .toDF("doc_id", "text")
    val got = Dedup.crossSubstringDups(
        Dedup.anchorFrame(corpusA), Dedup.anchorFrame(corpusB))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both A docs match B's doc 10; no within-A pair, nothing for doc 11
    assert(got === Set((1L, 10L), (2L, 10L)))
  }

  test("substring coverage: overlapping extents union once, keep-first never charged") {
    import spark.implicits._
    // distinct word pools so the only shared runs are the planted ones
    def words(tag: String, n: Int) = (1 to n).map(i => f"$tag$i%03d").mkString(" ")
    val p = words("p", 8)   // 8×4+7  = 39 chars
    val q = words("q", 13)  // 13×4+12 = 64 chars >= the 60-char MinExtent
    val r = words("r", 8)
    val dTail = words("z", 30)
    val a = s"$p $q"            // doc 1: P Q
    val b = s"$q $r"            // doc 2: Q R
    val cDoc = s"$p $q $r"      // doc 3: P Q R — covered by 1 and 2 jointly
    val dDoc = s"$q $dTail"     // doc 4: Q + long unique tail — partial coverage
    val docs = Seq((1L, a), (2L, b), (3L, cDoc), (4L, dDoc)).toDF("doc_id", "text")
    val got = Dedup.substringDupStats(docs).collect()
      .map(r0 => r0.getLong(0) -> ((r0.getLong(2), r0.getDouble(3), r0.getBoolean(4))))
      .toMap
    // doc 1 is the earliest copy of everything it contains: never listed
    assert(!got.contains(1L))
    // doc 2 shares exactly Q with doc 1
    assert(got(2L)._1 === q.length.toLong)
    // doc 3: extent [P Q] (vs 1) and extent [Q R] (vs 2) OVERLAP on Q —
    // union covers the whole doc exactly once -> frac 1.0, dropped
    assert(got(3L) === ((cDoc.length.toLong, 1.0, true)))
    // doc 4: Q matched against docs 1, 2, 3 -> near-identical extents
    // counted once (vs 2 and 3 the run extends over the trailing shared
    // space, hence +1); long unique tail keeps it under the threshold
    assert(got(4L)._1 === (q.length + 1).toLong)
    assert(got(4L)._2 < 0.5 && !got(4L)._3)

    // the cut step: spans removed, earliest copies survive verbatim
    val clean = Dedup.substringScrub(docs).collect()
      .map(r0 => r0.getLong(0) -> ((r0.getString(1), r0.getLong(2)))).toMap
    assert(clean(1L) === ((a, 0L)))                         // first copy untouched
    assert(clean(2L) === ((" " + r, q.length.toLong)))      // Q cut from the front
    assert(clean(3L) === (("", cDoc.length.toLong)))        // fully duplicated -> empty
    assert(clean(4L) === ((dTail, (q.length + 1).toLong)))  // "Q " cut, tail survives
  }

  test("substring dedup: sub-threshold runs filtered, boilerplate anchors capped") {
    import spark.implicits._
    // a 40-char shared run: >= AnchorLen (found) but < MinExtent (filtered)
    val short = (1 to 7).map(i => f"s$i%04d").mkString(" ") // 7*5+6 = 41 chars
    val sub = Seq((1L, "aaa head " + short), (2L, short + " bbb tail"))
      .toDF("doc_id", "text")
    assert(Dedup.substringDups(sub).isEmpty)
    // the same >=MinExtent boilerplate in 20 docs: every anchor inside the
    // shared run occurs 20 > MaxAnchorOcc times -> stop-anchor cap drops
    // them all (doc tags are doubled letters so no tag is a suffix of
    // another — anchors straddling the tag are unique per doc)
    val boiler = (1 to 15).map(i => f"b$i%02d").mkString(" ") + " license block"
    def tag(i: Int): String = s"${('a' + i).toChar}${('a' + i).toChar}"
    val many = (0 until 20).map(i => (i.toLong, s"doc ${tag(i)} says: " + boiler))
      .toDF("doc_id", "text")
    assert(Dedup.substringDups(many).isEmpty)
    // ...but 3 docs sharing it (under the cap) are all 3 pairs reported
    val few = (0 until 3).map(i => (i.toLong, s"doc ${tag(i)} says: " + boiler))
      .toDF("doc_id", "text")
    assert(Dedup.substringDups(few).count() === 3L)
  }

  test("frame sampling + batched decode: offsets, sizes, checksums line up") {
    val assets = MultimodalOps.assets(docs.where(col("doc_id") < 10))
    val frames = MultimodalOps.sampleFrames(assets, frameBytes = 256, stride = 2)
    val decoded = MultimodalOps.decodeFrames(spark, frames).collect()
    assert(decoded.nonEmpty)
    decoded.foreach { f =>
      assert(f.offset === f.frame_no.toLong * 256)
      assert(f.frame_no % 2 === 0)
      assert(f.byte_len > 0 && f.byte_len <= 256)
      assert(f.checksum.length === 32)
    }
    // frame 0 checksum == md5 of the first 256 bytes of the raw text
    val texts = docs.where(col("doc_id") < 10)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    decoded.filter(_.frame_no == 0).foreach { f =>
      val bytes = texts(f.asset_id).getBytes("UTF-8").take(256)
      assert(f.checksum === MultimodalOps.fakeDecode(bytes).checksum)
    }
  }

  test("real image decode (javax.imageio) round-trips the generated PNG/BMP") {
    val got = MultimodalOps.decodeImageMeta(spark,
      MultimodalOps.imageAssets(spark, docs)).collect()
    assert(got.length === docs.count())
    got.foreach { m =>
      val (w, h) = MultimodalOps.dimsFor(m.asset_id)
      assert(m.format === (if (m.asset_id % 2 == 0) "png" else "bmp"),
        s"asset ${m.asset_id}: sniffed format ${m.format}")
      assert(m.width === w && m.height === h,
        s"asset ${m.asset_id}: ${m.width}x${m.height} != ${w}x$h")
      assert(m.corner_rgb === MultimodalOps.pixelRgb(m.asset_id, 0, 0))
    }
    // lossless round trip pixel-for-pixel, one asset of each format
    val two = MultimodalOps.imageAssets(spark, docs.where(col("doc_id") < 2))
      .collect().map(a => a.asset_id -> a.media).toMap
    two.foreach { case (id, bytes) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val (w, h) = MultimodalOps.dimsFor(id)
      for (y <- 0 until h; x <- 0 until w)
        assert((img.getRGB(x, y) & 0xffffff) === MultimodalOps.pixelRgb(id, x, y),
          s"asset $id pixel ($x,$y)")
    }

    // JPEG (m8): sniffed format + exact dimensions through the same
    // reader path; pixels are LOSSY, so the pin is a quantization
    // tolerance on the decoded corner — close enough to prove the
    // raster was really decompressed (a header-only sniff would read
    // no pixel at all), loose enough for DCT rounding
    val jgot = MultimodalOps.decodeImageMeta(spark,
      MultimodalOps.jpegAssets(spark, docs)).collect()
    assert(jgot.length === docs.count())
    jgot.foreach { m =>
      val (w, h) = MultimodalOps.dimsFor(m.asset_id)
      assert(m.format === "jpeg", s"asset ${m.asset_id}: ${m.format}")
      assert(m.width === w && m.height === h,
        s"asset ${m.asset_id}: ${m.width}x${m.height} != ${w}x$h")
      val want = MultimodalOps.pixelRgb(m.asset_id, 0, 0)
      def chan(v: Int, s: Int) = (v >> s) & 0xff
      Seq(16, 8, 0).foreach { s =>
        assert(math.abs(chan(m.corner_rgb, s) - chan(want, s)) <= 48,
          s"asset ${m.asset_id}: corner channel>>$s " +
            s"${chan(m.corner_rgb, s)} vs encoded ${chan(want, s)} — " +
            "beyond JPEG quantization tolerance")
      }
    }
  }

  test("pair-graph PageRank: matches a driver reference on a toy graph, conserves mass, partition-independent") {
    import graft.operators.Dedup
    val sess = spark
    import sess.implicits._
    // star + tail: hub 0 ~ {1,2,3}, path 3-4. Hub must outrank leaves.
    val pairs = Seq((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0),
      (3L, 4L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.pairGraphRank(pairs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver reference: same arithmetic, same rounding spots
    val edges = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 3L -> 4L)
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.size }
    val n = deg.size
    var rank: Map[Long, Double] = deg.map { case (v, _) => v -> 1.0 / n }
    for (_ <- 1 to Dedup.RankIters) {
      val sums = edges.groupBy(_._2).map { case (v, es) =>
        // exact decimal sum of 9-dp-rounded contributions
        v -> es.map { case (u, _) =>
          BigDecimal(rank(u) / deg(u))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        }.sum
      }
      rank = deg.map { case (v, _) =>
        v -> ((1.0 - Dedup.RankDamping) / n +
          Dedup.RankDamping * sums(v).toDouble)
      }
    }
    val want = rank.map { case (v, r) =>
      v -> BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got === want)
    assert(got(0L) > got(1L) && got(0L) > got(4L),
      s"hub does not outrank leaves: $got")
    // damped mass conservation: Σ rank = 1 (up to the 6-dp grid)
    assert(math.abs(got.values.sum - 1.0) < 1e-4, s"mass leaked: $got")
    // partition independence on the fixture pair graph
    val fixPairs = Dedup.nearDupPairs(
      graft.sources.Tables.documents(spark, sf), 0.5).cache()
    val a = Dedup.pairGraphRank(fixPairs).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val b = Dedup.pairGraphRank(fixPairs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(a.nonEmpty, "fixture pair graph empty; test is vacuous")
    assert(a === b, "PageRank diverged under a different partitioning")
  }

  test("quality-teleport rank: prior pulls rank on a symmetric graph, mass = 1, partition-independent") {
    import graft.operators.Dedup
    val sess = spark
    import sess.implicits._
    // 4-cycle: every node degree 2 — plain PageRank is uniform by
    // symmetry, so ANY rank spread must come from the quality teleport
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
      (1L, 4L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val quality = Seq((1L, 0.9), (2L, 0.3), (3L, 0.3), (4L, 0.3))
      .toDF("doc_id", "uniq_ratio")
    val got = Dedup.qualityRank(pairs, quality).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    // at 3 (odd) rounds a cycle's mass oscillates: the trusted node's
    // teleport mass currently sits on its NEIGHBORS — the claims that
    // are stable across parity are (a) the far node, equidistant and
    // untrusted, ranks strictly LOWEST; (b) the trusted node beats it;
    // (c) the two symmetric neighbors tie exactly
    assert(Seq(1L, 2L, 4L).forall(v => got(v) > got(3L)),
      s"trust did not disadvantage the far node: $got")
    assert(got(2L) === got(4L), s"symmetric neighbors diverged: $got")
    // teleport mass is normalized, walk is conservative: Σ rank = 1
    assert(math.abs(got.values.sum - 1.0) < 1e-4, s"mass leaked: $got")
    // uniform quality degenerates to plain PageRank (t = 1/N)
    val uniformQ = Seq((1L, 0.5), (2L, 0.5), (3L, 0.5), (4L, 0.5))
      .toDF("doc_id", "uniq_ratio")
    val uni = Dedup.qualityRank(pairs, uniformQ).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = Dedup.pairGraphRank(pairs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(uni === plain,
      s"uniform teleport is not the plain-PageRank special case: $uni vs $plain")
    // partition independence on the fixture graph with real qualities
    val docs = graft.sources.Tables.documents(spark, sf)
    val fixPairs = Dedup.nearDupPairs(docs, 0.5).cache()
    val q = graft.operators.TextOps.qualityScore(docs)
    val a = Dedup.qualityRank(fixPairs, q).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val b = Dedup.qualityRank(fixPairs.repartition(5), q.repartition(3))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(a.nonEmpty && a === b,
      "quality rank diverged under a different partitioning")
  }

  test("edit-distance confirm: order-sensitive where Jaccard is order-blind") {
    val sess = spark
    import sess.implicits._
    // b = a with two sentences swapped (same shingle-ish content, real
    // rewrite distance); c = a with one word patched (tiny distance)
    val sent1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val sent2 = "a slow green turtle walks under the busy bridge beside the old mill"
    val a = s"$sent1 $sent2"
    val b = s"$sent2 $sent1"
    val c = a.replace("quick", "rapid")
    val tiny = Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "text")
    def sim(x: String, y: String): Double = {
      val lev = org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance.apply(x, y).toInt
      1.0 - lev.toDouble / math.max(x.length, y.length)
    }
    val got = Dedup.editDupPairs(tiny, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every confirmed value matches a reference Levenshtein, and the
    // patched pair scores far above the reordered pair
    got.foreach { case ((da, db), v) =>
      val want = math.rint(sim(Map(0L -> a, 1L -> b, 2L -> c)(da),
        Map(0L -> a, 1L -> b, 2L -> c)(db)) * 1e6) / 1e6
      assert(math.abs(v - want) < 1e-9, s"($da,$db): got $v want $want")
    }
    assert(got.contains((0L, 2L)), "patched near-copy not confirmed")
    if (got.contains((0L, 1L)))
      assert(got((0L, 2L)) > got((0L, 1L)),
        "a one-word patch must outscore a sentence reorder")

    // fixture-scale: confirmed pairs are a subset of the banded
    // candidates with scores in [0, 1]
    val pairs = Dedup.editDupPairs(docs.select("doc_id", "text"), 0.3)
      .collect()
    assert(pairs.nonEmpty, "no edit-confirmed pairs at fixture scale; vacuous")
    assert(pairs.forall(r => r.getDouble(2) >= 0.3 && r.getDouble(2) <= 1.0))
    val cand = Dedup.nearDupPairs(docs, 0.0)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // nearDupPairs at jaccard>=0 IS the candidate set (confirm keeps all)
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet.subsetOf(cand))
  }

  test("token-window chunking: coverage, overlap, and reconstruction") {
    val w = TextOps.ChunkWindow
    val o = TextOps.ChunkOverlap
    val step = w - o
    val chunks = TextOps.chunkDocs(docs.select("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(chunks.nonEmpty)
    assert(chunks.forall(_._3 <= w), "chunk over the window budget")
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      // chunk ids dense from 0; count matches the closed-form formula
      assert(sorted.map(_._2) === sorted.indices.map(_.toLong))
      val n = toks(id).size
      val wantN = math.max((n - o + step - 1) / step, 1)
      assert(sorted.size == wantN, s"doc $id: ${sorted.size} chunks, want $wantN")
      // each chunk is exactly the token slice of its window, so
      // consecutive chunks overlap by `o` and the corpus reconstructs
      sorted.foreach { case (_, cid, nt, text) =>
        val want = toks(id).slice((cid * step).toInt,
          (cid * step).toInt + w)
        assert(nt == want.size && text == want.mkString(" "),
          s"doc $id chunk $cid diverges from the token slice")
      }
      val rebuilt = sorted.flatMap { case (_, cid, _, text) =>
        val ts = text.split(" ", -1).toVector
        if (cid == 0) ts else ts.drop(o min ts.size)
      }.toVector
      assert(rebuilt == toks(id), s"doc $id does not reconstruct from chunks")
    }
  }

  test("image aHash: bit order, threshold, and constant-image semantics") {
    val sess = spark
    import sess.implicits._
    def png(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val assets = Seq(
      // top half black, bottom half white: exactly rows of 0s then 1s
      graft.operators.ImageAsset(1L, png(16, 16,
        (_, y) => if (y < 8) 0x000000 else 0xffffff)),
      // the inverse: bits flip
      graft.operators.ImageAsset(2L, png(16, 16,
        (_, y) => if (y < 8) 0xffffff else 0x000000)),
      // constant image: cell mean never EXCEEDS the global mean -> all 0
      graft.operators.ImageAsset(3L, png(16, 16, (_, _) => 0x808080))
    ).toDS()
    val got = MultimodalOps.imagePHash(spark, assets)
      .collect().map(p => p.asset_id -> p.phash).toMap
    assert(got(1L) === "0" * 32 + "1" * 32, s"half-split hash: ${got(1L)}")
    assert(got(2L) === "1" * 32 + "0" * 32)
    assert(got(3L) === "0" * 64, "constant image must hash all-zero")
    // dedup groups: identically-rendered images collapse
    val groups = MultimodalOps.phashDupGroups(spark,
      MultimodalOps.imageAssets(spark, Tables.documents(spark, sf)))
      .collect()
    assert(groups.nonEmpty, "fixture should contain perceptual duplicates")
    assert(groups.forall(_.getLong(1) >= 2))
  }

  test("audio features: hand-built WAV parses exactly; corrupt container fails loud") {
    val sess = spark
    import sess.implicits._
    def wav(samples: Seq[Short], rate: Int = 8000): Array[Byte] = {
      val n = samples.size
      val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + 2 * n).put("WAVE".getBytes)
        .put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
        .put("data".getBytes).putInt(2 * n)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val ds = Seq(graft.operators.AudioAsset(7L,
      wav(Seq[Short](100, -100, 50, -50)))).toDS()
    val f = MultimodalOps.audioFeatures(spark, ds).collect()(0)
    assert(f.sample_rate == 8000 && f.n_samples == 4 && f.peak == 100)
    assert(f.energy_ssq == 25000L, s"ssq ${f.energy_ssq}")
    assert(f.zero_crossings == 3)

    // corrupt magic must fail loudly, never return garbage features
    val bad = wav(Seq[Short](1, 2)); bad(0) = 'X'.toByte
    val ex = intercept[org.apache.spark.SparkException] {
      MultimodalOps.audioFeatures(spark,
        Seq(graft.operators.AudioAsset(8L, bad)).toDS()).collect()
    }
    assert(ex.getMessage.contains("not RIFF") ||
      String.valueOf(ex.getCause).contains("not RIFF"))

    // generated fixture assets round-trip (the m6 oracle checks values;
    // this pins that the WAV bytes are REAL containers the parse reads)
    val gen = MultimodalOps.audioFeatures(spark,
      MultimodalOps.audioAssets(spark, Tables.documents(spark, sf)))
      .collect()
    assert(gen.nonEmpty && gen.forall(a =>
      a.sample_rate == 8000 && a.n_samples >= 256 && a.n_samples < 384))
  }

  test("audio fingerprint: sign-of-energy-delta bits; identical signals group") {
    val sess = spark
    import sess.implicits._
    def wav(samples: Seq[Short], rate: Int = 8000): Array[Byte] = {
      val n = samples.size
      val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + 2 * n).put("WAVE".getBytes)
        .put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
        .put("data".getBytes).putInt(2 * n)
      samples.foreach(bb.putShort)
      bb.array()
    }
    // 16 samples over 16 frames → one sample per frame, energy = s²:
    // strictly rising magnitudes → every delta bit 1; falling → every 0
    val up = (1 to 16).map(_.toShort)
    val down = (16 to 1 by -1).map(_.toShort)
    val ds = Seq(
      graft.operators.AudioAsset(1L, wav(up)),
      graft.operators.AudioAsset(2L, wav(down)),
      graft.operators.AudioAsset(3L, wav(up))).toDS()
    val fp = MultimodalOps.audioFingerprint(spark, ds)
      .collect().map(f => f.asset_id -> f.afp).toMap
    assert(fp(1L) === "1" * 15, s"rising energies: ${fp(1L)}")
    assert(fp(2L) === "0" * 15, s"falling energies: ${fp(2L)}")
    assert(fp(3L) === fp(1L), "identical signal must fingerprint identically")

    // group view: 1 and 3 collapse (rep = min id), 2 stands alone
    val g = MultimodalOps.audioDupGroupsFrom(
      MultimodalOps.audioFingerprint(spark, ds).toDF())
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(g(1L) === ((2L, 1L)) && g(3L) === ((2L, 1L)))
    assert(g(2L) === ((1L, 2L)))

    // generated fixture assets fingerprint through the REAL parse
    val gen = MultimodalOps.audioFingerprint(spark,
      MultimodalOps.audioAssets(spark, Tables.documents(spark, sf)))
      .collect()
    assert(gen.nonEmpty && gen.forall(f => f.afp.length == 15 &&
      f.afp.forall(c => c == '0' || c == '1')))

    // ingest-scale screen: a too-short asset and a corrupt container
    // QUARANTINE (K1 tolerant-sink convention) instead of killing the
    // task; the good assets fingerprint bit-identically to the strict
    // path
    val short = graft.operators.AudioAsset(9L, wav((1 to 8).map(_.toShort)))
    val corrupt = graft.operators.AudioAsset(10L, Array[Byte](1, 2, 3))
    val mixed = Seq(graft.operators.AudioAsset(1L, wav(up)),
      short, corrupt).toDS()
    val (okFp, quar) =
      MultimodalOps.audioFingerprintScreened(spark, mixed)
    val okRows = okFp.collect()
    assert(okRows.map(_.asset_id).toSet === Set(1L))
    assert(okRows.head.afp === fp(1L),
      "screened path diverged from the strict fingerprint arithmetic")
    val qRows = quar.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(qRows.keySet === Set(9L, 10L), s"quarantine set: $qRows")
    assert(qRows(9L).contains("8 samples <"), qRows(9L))
    assert(qRows(10L).startsWith("unparseable"), qRows(10L))
    // the strict path still fails loudly on the same input — the
    // fixture-gate convention is unchanged
    assertThrows[org.apache.spark.SparkException] {
      MultimodalOps.audioFingerprint(spark, Seq(short).toDS()).collect()
    }
  }

  test("chunk retrieval degenerates to doc retrieval when every doc fits one window") {
    import graft.operators.VectorOps
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val queries = Seq(0L -> Seq("spark", "join"), 1L -> Seq("vector", "table"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rn").collect().map(_.toSeq).toSeq
    // window far beyond any fixture doc: one chunk per doc, so chunk
    // df/N/avgdl ≡ doc df/N/avgdl and MaxSim is the identity — the
    // chunk serve MUST equal the doc serve exactly, scores included
    val big = 1 << 20
    val (ctf, cdl) = TextOps.chunkBm25Stats(docs, window = big, overlap = 0)
    assert(cdl.where(col("chunk_id") =!= 0L).count() === 0,
      "degenerate window still split a doc; invariant is vacuous")
    assert(rows(TextOps.bm25ChunkTopKFrom(ctf, cdl, queries, 5)
        .select("query_id", "doc_id", "score", "rn")) ===
      rows(TextOps.bm25TopK(docs, queries, 5)
        .select("query_id", "doc_id", "score", "rn")),
      "one-chunk-per-doc chunk BM25 diverges from doc-level BM25")
    // the dense twin: chunk 0 is even → unreversed, so multi-vector
    // MaxSim over one-chunk docs IS brute doc-level cosine
    val ce1 = VectorOps.chunkEmbeddings(docs, emb, window = big, overlap = 0)
    assert(rows(VectorOps.multiVectorTopK(ce1, emb, Seq(0L, 1L), 5)
        .select(col("query_id"), col("doc_id").as("vec_id"),
          col("cosine"), col("rn"))) ===
      rows(VectorOps.cosineTopK(emb, Seq(0L, 1L), 5)),
      "one-chunk-per-doc MaxSim diverges from doc-level cosine top-k")
  }

  test("multi-vector retrieval: MaxSim dedups to docs, attribution is the argmax chunk") {
    import graft.operators.VectorOps
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val ce = VectorOps.chunkEmbeddings(docs, emb)
    // the derivation really is multi-vector: odd chunks carry the
    // REVERSED doc vector, and multi-chunk docs exist in the fixture
    assert(ce.where(col("chunk_id") % 2 === 1).count() > 0,
      "no odd chunks; the reversal path is vacuous")
    val got = VectorOps.multiVectorTopK(ce, emb, Seq(0L, 1L), 5)
      .collect()
    assert(got.nonEmpty)
    // dedup-to-docs: one row per (query, doc)
    val keys = got.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(keys.distinct.size === keys.size,
      "a doc appears more than once per query after MaxSim fusion")
    // attribution = the argmax chunk, checked INDEPENDENTLY: plain
    // driver-side fold cosine over every chunk vector of each returned
    // doc (same sequential accumulation and 6-dp HALF_UP rounding as
    // the engine), max cosine with chunk_id ascending on ties
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      def nrm(v: Seq[Double]) =
        math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))
      BigDecimal(dot / (nrm(a) * nrm(b)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val qvs = emb.where(col("vec_id").isin(0L, 1L)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val ceLocal = ce.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).map(_.toDouble)))
    got.foreach { r =>
      val (q, d, c) = (r.getLong(0), r.getLong(1),
        r.getLong(r.fieldIndex("chunk_id")))
      val want = ceLocal.filter(_._1 == d)
        .map(t => (t._2, cos(qvs(q), t._3)))
        .minBy { case (cid, cosv) => (-cosv, cid) }
      assert(want._1 === c,
        s"($q, $d): kept chunk $c is not the MaxSim argmax $want")
    }
  }

  test("BPE merges equal a plain reference implementation, rule for rule") {
    val sess = spark
    import sess.implicits._
    // plain-Scala BPE: same conventions (frequency-weighted overlapping
    // pair counts, count DESC then lexicographic tie-break, greedy
    // left-to-right within-word merge)
    def referenceBpe(corpus: Seq[String], k: Int): Seq[(String, String, Long)] = {
      var vocab = corpus.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) =>
          w.map(_.toString).toVector -> g.size.toLong }.toVector
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      (1 to k).foreach { _ =>
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, w) <- vocab; i <- 0 until syms.size - 1)
          counts((syms(i), syms(i + 1))) =
            counts.getOrElse((syms(i), syms(i + 1)), 0L) + w
        if (counts.isEmpty) return out.toSeq // exhausted before k rules
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        vocab = vocab.map { case (syms, w) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.size) {
            if (i + 1 < syms.size && syms(i) == l && syms(i + 1) == r) {
              out += l + r; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toVector, w)
        }
        out += ((l, r, c))
      }
      out.toSeq
    }
    // banana/aaaa-class corpora force CONSECUTIVE occurrences of the
    // learned pair — the case where a shared-separator replace would
    // under-merge (caught in review; the per-symbol wrapping fixes it)
    for (corpus <- Seq(
        Seq("low low low lower lower", "newest newest newest widest",
          "lowest widest widest newest"),
        Seq("banana banana banana bandana", "ananas banana nana"),
        Seq("aaaa aaaa aaaaa baaab", "aa aaa aaaa"))) {
      val want = referenceBpe(corpus.map(_.toLowerCase), 8)
      val got = TextOps.bpeMerges(
          corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
            .toDF("doc_id", "text"), 8)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
      assert(got === want,
        s"engine rules $got diverge from reference $want on $corpus")
    }
    // a corpus that exhausts before k rules: the learned prefix comes
    // back, no crash ("ab" admits exactly one merge)
    val short = TextOps.bpeMerges(
      Seq((0L, "ab ab ab")).toDF("doc_id", "text"), 8).collect()
    assert(short.length == 1 &&
      short(0).getString(1) == "a" && short(0).getString(2) == "b")
    // merged column is always lhs+rhs, ranks dense from 1
    val full = TextOps.bpeMerges(docs.select("doc_id", "text"), 4)
      .orderBy("rank").collect()
    assert(full.map(_.getInt(0)).toSeq === Seq(1, 2, 3, 4))
    assert(full.forall(r => r.getString(3) == r.getString(1) + r.getString(2)))
    assert(full.map(_.getLong(4)).toSeq.reverse.sorted.reverse ===
      full.map(_.getLong(4)).toSeq, "pair counts must be non-increasing")
  }

  test("BPE encode equals a greedy reference tokenizer, doc for doc") {
    val sess = spark
    import sess.implicits._
    // plain-Scala greedy encode: rules in rank order, left-to-right
    // within-word merge per rule — the textbook BPE apply step
    def refEncode(rules: Seq[(String, String)], text: String): Seq[String] =
      text.toLowerCase.split(" ", -1).filter(_.nonEmpty).toSeq.flatMap { w =>
        var syms = w.map(_.toString).toVector
        for ((l, r) <- rules) {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.size) {
            if (i + 1 < syms.size && syms(i) == l && syms(i + 1) == r) {
              out += l + r; i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.toVector
        }
        syms
      }
    def refIds(rules: Seq[(String, String)], syms: Seq[String]): Seq[Long] =
      syms.map { s =>
        val r = rules.indexWhere { case (l, rr) => l + rr == s }
        if (r >= 0) TextOps.BpeMergedIdOffset + r + 1
        else s.codePointAt(0).toLong
      }
    for (corpus <- Seq(
        Seq("low low low lower lower", "newest newest newest widest",
          "lowest widest widest newest"),
        Seq("banana banana banana bandana", "ananas banana nana"),
        Seq("aaaa aaaa aaaaa baaab", "aa aaa aaaa"),
        Seq("ab ab ab", ""))) { // 1-rule corpus + an EMPTY doc (0 tokens)
      val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val rules = TextOps.bpeMerges(df, 8).orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val got = TextOps.bpeEncode(df, rules).orderBy("doc_id").collect()
      assert(got.length == corpus.size)
      for ((row, text) <- got.zip(corpus)) {
        val syms = refEncode(rules, text)
        assert(row.getLong(1) == syms.size.toLong,
          s"token count for '$text': got ${row.getLong(1)}, want ${syms.size}")
        assert(row.getString(2) == refIds(rules, syms).mkString(","),
          s"ids for '$text' under rules $rules")
      }
    }
    // merged-symbol ids live past every code point: no base collision
    assert(TextOps.BpeMergedIdOffset == Character.MAX_CODE_POINT + 1)
  }

  test("driver-side BPE query encode mirrors the engine's column fold symbol for symbol") {
    val sess = spark
    import sess.implicits._
    // fixture-trained rules (the ones the x90 serve queries through),
    // plus a hand-built rule set exercising repeats and chained merges
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val fixtureRules = TextOps.bpeMerges(docs).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val tinyRules = TextOps.bpeMerges(
      Seq((0L, "banana banana banana bandana scan scan scan")).toDF(
        "doc_id", "text"), 8).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // non-BMP terms (surrogate pairs in UTF-16) pin the driver fold to
    // CODE POINTS: the column fold wraps per code point (UTF8String
    // substr/length), so a per-Char driver wrap would split 𝄞 into two
    // symbols the index never holds — silent lexical recall loss
    val terms = Seq("spark", "join", "vector", "table", "window", "batch",
      "scan", "banana", "bandana", "scanscan", "aa", "",
      "𝄞clef", "a𝄞b", "😀😀")
    for (rules <- Seq(fixtureRules, tinyRules)) {
      // engine truth: each term as a one-word doc through the COLUMN
      // fold — bpeChunkBm25Stats' ctf multiset per doc is exactly that
      // term's symbol multiset (one short window per term)
      val termDocs = terms.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val (ctf, _) = TextOps.bpeChunkBm25Stats(termDocs, rules)
      val engine = ctf.collect()
        .groupBy(_.getLong(0))
        .map { case (id, rows) =>
          id -> rows.map(r => r.getString(2) -> r.getLong(3)).toMap }
      terms.zipWithIndex.foreach { case (t, i) =>
        val driver = TextOps.bpeEncodeTerms(Seq(t), rules)
          .groupBy(identity).map { case (s, o) => s -> o.size.toLong }
        val got = engine.getOrElse(i.toLong, Map.empty[String, Long])
        assert(driver === got,
          s"term '$t' under rules $rules: driver $driver vs engine $got")
      }
    }
  }

  test("BPE at a production-shaped vocabulary: 64 rules train and encode correctly") {
    // the tokenizer family must not silently assume the toy k=8: this
    // is the one dimension production changes by orders of magnitude.
    // The unrolled per-rule ORACLE chain deliberately stays at k=8 (64
    // unrolled rounds would be an oracle stress test, not a correctness
    // gate); correctness here rides the driver/column encode symmetry.
    val sess = spark
    import sess.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val t0 = System.nanoTime()
    val rules = TextOps.bpeMerges(docs, 64).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val trainSecs = (System.nanoTime() - t0) / 1e9
    // the fixture vocabulary supports the full ladder (no early
    // exhaustion), ranks dense from 1, merges well-formed
    assert(rules.size === 64, s"learned ${rules.size} rules, wanted 64")
    info(f"64-rule training: $trainSecs%.1f s " +
      f"(${trainSecs / 64}%.3f s/rule; one bounded argmax round each)")

    // encode symmetry at 64 rules: driver fold ≡ column fold, symbol
    // for symbol, including chained merges the 8-rule table never
    // reaches and non-BMP code points
    val terms = Seq("spark", "join", "vector", "table", "window",
      "partition", "aggregate", "banana", "a𝄞b", "")
    val termDocs = terms.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (tctf, _) = TextOps.bpeChunkBm25Stats(termDocs, rules)
    val engine = tctf.collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => r.getString(2) -> r.getLong(3)).toMap }
    terms.zipWithIndex.foreach { case (t, i) =>
      val driver = TextOps.bpeEncodeTerms(Seq(t), rules)
        .groupBy(identity).map { case (s, o) => s -> o.size.toLong }
      assert(driver === engine.getOrElse(i.toLong, Map.empty[String, Long]),
        s"64-rule encode mismatch on '$t'")
    }

    // vocabulary closure: every symbol the 64-rule encode emits over
    // the corpus is a single code point or one of the 64 merged
    // strings — the greedy fold can't invent out-of-vocab symbols
    val vocab = rules.map { case (l, r) => l + r }.toSet
    val emitted = TextOps.bpeChunkBm25Stats(
        docs.where(col("doc_id") < 120), rules)._1
      .select("token").distinct().collect().map(_.getString(0)).toSeq
    assert(emitted.nonEmpty)
    val oov = emitted.filterNot(s =>
      s.codePointCount(0, s.length) == 1 || vocab.contains(s))
    assert(oov.isEmpty, s"out-of-vocabulary symbols emitted: $oov")
    // ...and the deeper table is actually USED: some emitted symbol
    // comes from a rule past the toy 8 (else this test is vacuous)
    val deepVocab = rules.drop(8).map { case (l, r) => l + r }.toSet
    assert(emitted.exists(deepVocab.contains),
      "no symbol from rules 9..64 ever emitted; vocabulary too shallow")
  }

  test("bloom ingest screen: no false negatives ever, FP rate inside the sized-for bound") {
    // the guarantee the screen exists for: an inserted key's bits are
    // all set, so exact_seen ⊆ maybe_seen — on EVERY split. The fixture
    // plants near-dups, not cross-id exact dups, so each increment
    // RE-PRESENTS some corpus docs under shifted ids (a re-crawl) to
    // make the guarantee check non-vacuous.
    for (m <- Seq(2, 3)) {
      val corpus = docs.where(col("doc_id") % m =!= 0)
      val inc = docs.where(col("doc_id") % m === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(corpus.orderBy("doc_id").limit(40)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val rows = Dedup.ingestScreen(corpus, inc).collect()
      assert(rows.nonEmpty)
      assert(rows.count(_.getBoolean(2)) >= 40,
        "no re-presented content in the increment; FN check is vacuous")
      val fn = rows.filter(r => r.getBoolean(2) && !r.getBoolean(1))
      assert(fn.isEmpty,
        s"bloom false negative(s) at split %$m: ${fn.take(3).mkString(";")}")
      // FP bound: (1 - e^(-kn/m))^k with n = corpus keys — assert at
      // 4x the analytic rate (deterministic hashes aren't independent,
      // but 4x headroom over the expectation catches a broken mix —
      // e.g. all khash positions colliding — without flaking)
      val n = docs.where(col("doc_id") % m =!= 0)
        .select(md5(TextOps.normText(col("text")))).distinct().count()
      val k = Dedup.BloomHashes
      val p = math.pow(1 - math.exp(-k.toDouble * n / Dedup.BloomMBits), k)
      val newRows = rows.filter(r => !r.getBoolean(2))
      val fp = newRows.count(_.getBoolean(3)).toDouble / math.max(newRows.size, 1)
      info(f"split %%$m: n=$n analytic FP $p%.5f observed $fp%.5f")
      assert(fp <= math.max(4 * p, 0.02),
        f"bloom FP rate $fp%.4f over 4x the sized-for $p%.4f")
    }
  }

  test("bloom stats: cardinality estimate tracks the true key count; the half-full rule fires on an outgrown filter") {
    val keys = docs.select(md5(TextOps.normText(col("text"))).as("content_key"))
    val n = keys.distinct().count()
    val st = Dedup.bloomStats(Dedup.bloomBits(keys))
    // the ML inversion of the fill curve: exact in expectation, so a
    // 10% band (plus integer slack on tiny counts) is the right pin —
    // a broken bit_count or a mis-scaled fill would miss by far more
    assert(math.abs(st.estimatedKeys - n) <= math.max(0.1 * n, 3),
      s"estimated ${st.estimatedKeys} vs true $n distinct keys")
    assert(st.setBits > 0 && st.setBits <= Dedup.BloomHashes * n,
      "set-bit count outside [1, k*n]")
    assert(st.impliedFpRate < 0.01,
      f"right-sized filter implies FP ${st.impliedFpRate}%.4f")
    // outgrown geometry: the same corpus crammed into 64 bits is past
    // half full and the implied FP says so — the silent-degradation
    // signal the half-full rule exists for
    val tiny = Dedup.bloomStats(Dedup.bloomBits(keys, 64, 2), 64, 2)
    assert(tiny.fillRatio > 0.5 && tiny.impliedFpRate > 0.25,
      s"outgrown filter not flagged: $tiny")
    // empty frame: zero everything, no throw
    val zero = Dedup.bloomStats(Dedup.bloomBits(keys.limit(0)))
    assert(zero.setBits == 0L && zero.estimatedKeys == 0L)
    // sharded frame: capacity scales by the DECLARED shard count, and
    // an undeclared one refuses instead of overstating fill ~shards×
    // (which would fire the half-full rule spuriously)
    val sh = Dedup.shardedBloomBits(keys, shards = 4)
    val st4 = Dedup.bloomStats(sh, shards = 4)
    assert(math.abs(st4.estimatedKeys - n) <= math.max(0.1 * n, 3),
      s"sharded estimate ${st4.estimatedKeys} vs $n")
    assertThrows[IllegalArgumentException](Dedup.bloomStats(sh))
  }

  test("sharded bloom: shards=1 is the flat filter exactly; sharded verdicts keep the guarantee") {
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val inc = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(corpus.orderBy("doc_id").limit(40)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    // shards=1 routes every key to shard 0 with UNCHANGED positions —
    // the sharded screen must be row-identical to the flat one (the
    // degenerate-form equivalence that pins the routing adds nothing)
    val flat = Dedup.ingestScreen(corpus, inc)
      .collect().map(_.toSeq).sortBy(_(0).asInstanceOf[Long]).toSeq
    val one = Dedup.ingestScreenSharded(corpus, inc, shards = 1)
      .collect().map(_.toSeq).sortBy(_(0).asInstanceOf[Long]).toSeq
    assert(one === flat, "shards=1 diverges from the flat filter")
    // shards=4: the guarantee holds (re-presented content all flags;
    // FPs stay bounded) even though per-shard bit patterns differ
    val sh4 = Dedup.ingestScreenSharded(corpus, inc, shards = 4,
      mbits = 1 << 14).collect()
    val fn4 = sh4.filter(r => r.getBoolean(2) && !r.getBoolean(1))
    assert(fn4.isEmpty, s"sharded false negatives: ${fn4.take(3).mkString(";")}")
    assert(sh4.count(_.getBoolean(2)) >= 40, "no re-presented rows; vacuous")
    val new4 = sh4.filter(r => !r.getBoolean(2))
    val fp4 = new4.count(_.getBoolean(3)).toDouble / math.max(new4.length, 1)
    assert(fp4 <= 0.02, f"sharded FP rate $fp4%.4f")
    // frame bound: at most shards * mbits/32 word rows, ever
    assert(Dedup.shardedBloomBits(
        corpus.select(md5(TextOps.normText(col("text"))).as("content_key")),
        shards = 4, mbits = 1 << 14).count() <= 4L * (1 << 14) / 32)
  }

  test("bloom-accelerated dedup: exactly the anti-join's verdicts, corpus never shuffled or broadcast") {
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val inc = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(corpus.orderBy("doc_id").limit(40)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val accel = Dedup.bloomAcceleratedDedup(corpus, inc)
    // the CONTRACT: bloom-invisible — identical to the plain exact
    // anti-join on every row, FPs weeded, planted dups caught
    val ckeys = corpus.select(md5(TextOps.normText(col("text"))).as("k"))
      .distinct().collect().map(_.getString(0)).toSet
    val want = inc.select(col("doc_id"),
        md5(TextOps.normText(col("text"))).as("k")).collect()
      .map(r => r.getLong(0) -> !ckeys.contains(r.getString(1))).toMap
    val got = accel.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === want, "accelerated dedup diverges from the exact anti-join")
    assert(got.values.count(_ == false) >= 40, "planted dups missed; vacuous")
    // the PLAN: every join broadcasts the SMALL side (bloom frame or
    // suspect keys) — a SortMergeJoin here would mean the corpus or
    // the increment got shuffled for the confirm, the cost the
    // composition exists to avoid
    val plan = accel.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"accelerated dedup shuffle-joins:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("bloom confirm: broadcast hint is suspect-count-capped, output cap-invariant") {
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val inc = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(corpus.orderBy("doc_id").limit(40)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    def run(cap: Long) =
      Dedup.screenJoinConfirmed(corpus, inc, broadcastCap = cap)((ik, ck) =>
        Dedup.bloomScreen(ik, Dedup.bloomBits(ck)))
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("maybe_seen"),
          coalesce(col("exact_seen"), lit(false)).as("exact_seen"))
        .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2)))
        .toMap
    val hinted = run(Dedup.ConfirmBroadcastMaxSuspects)
    val unhinted = run(0L)
    // the cap is PLAN-only: past-cap verdicts are row-identical
    assert(verdicts(unhinted) === verdicts(hinted),
      "confirm verdicts changed with the broadcast cap — the cap must be plan-only")
    // under the cap the suspect/confirmed sides are hint-forced
    // broadcasts; past it NO hint is forced — the planner may still
    // broadcast from real sizes (fine), but the driver-OOM hazard is
    // the FORCED hint on an increment-scale suspect set, and that is
    // what must be absent. The screen's own bloom-frame hint sits
    // behind the localCheckpoint seam, so the analyzed plan here shows
    // only the confirm hints.
    assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "under-cap confirm lost its broadcast hint")
    assert(!unhinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "past-cap confirm still forces a broadcast hint — a bulk " +
        "re-crawl's suspect set is increment-scale and would OOM the driver")
  }

  test("counting bloom: no-delete twin of the bit filter, O(delta) deletes, corruption refusal, null-key symmetry") {
    import spark.implicits._
    def keysOf(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(TextOps.normText(col("text"))).as("content_key"))
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val ck = keysOf(corpus)
    val inc = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(corpus.orderBy("doc_id").limit(40)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val ik = inc.select(col("doc_id"),
      md5(TextOps.normText(col("text"))).as("content_key"))
    // with NOTHING deleted the counting screen is the bit screen,
    // row-for-row: cnt > 0 at a position ⇔ its bit is set
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(sorted(Dedup.countingBloomScreen(ik, Dedup.countingBloomBits(ck)))
        === sorted(Dedup.bloomScreen(ik, Dedup.bloomBits(ck))),
      "counting screen with no deletes diverges from the bit screen")
    // delete a UNIQUE-text doc: its content stops flagging — the very
    // verdict the one-way bit filter can only reach by rebuilding —
    // while a surviving doc's re-presented content keeps flagging
    val uniq = corpus.groupBy(md5(TextOps.normText(col("text"))).as("k"))
      .agg(count(lit(1)).as("c"), min("doc_id").as("doc_id"))
      .where(col("c") === 1).orderBy("doc_id")
      .select("doc_id").limit(1).collect()(0).getLong(0)
    val afterDel = Dedup.countingBloomRemove(
      Dedup.countingBloomBits(ck),
      keysOf(corpus.where(col("doc_id") === uniq)))
    val gone = Dedup.countingBloomScreen(
      corpus.where(col("doc_id") === uniq)
        .select(col("doc_id"), md5(TextOps.normText(col("text")))
          .as("content_key")), afterDel).collect()
    assert(gone.length == 1 && !gone(0).getBoolean(2),
      "deleted unique content still flags — decrements did not land")
    val kept = Dedup.countingBloomScreen(
      corpus.where(col("doc_id") =!= uniq).limit(50)
        .select(col("doc_id"), md5(TextOps.normText(col("text")))
          .as("content_key")), afterDel).collect()
    assert(kept.nonEmpty && kept.forall(_.getBoolean(2)),
      "surviving content lost a set position — a shared position was " +
        "over-decremented")
    // removing a key that was never inserted must REFUSE (the filter
    // would silently void its guarantee for every key sharing a
    // position), and a double delete is the same corruption
    val alien = Seq("never inserted text").toDF("text")
    assertThrows[IllegalArgumentException](
      Dedup.countingBloomRemove(Dedup.countingBloomBits(ck),
        keysOf(alien)).collect())
    // a delete-feed row whose doc_id was NEVER INDEXED but whose text
    // duplicates a surviving doc must not decrement (the operator
    // semi-joins the feed against corpus ids): without it, a live key
    // drops to zero with no position going negative — a silent false
    // negative the refusal cannot catch
    val shared = corpus.orderBy("doc_id").limit(1)
    val alienDel = shared
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val audited = Dedup.ingestScreenCounting(corpus, alienDel,
      shared.select(col("doc_id"), col("text"))).collect()
    assert(audited.length == 1 && audited(0).getBoolean(1) &&
        audited(0).getBoolean(2),
      "an out-of-corpus delete row decremented a live key")
    // null keys are position-less on BOTH the build and delete sides:
    // deleting a null-text doc present in the corpus neither refuses
    // nor disturbs any count, and a null-text increment doc screens
    // maybe_seen = false
    val withNull = corpus.select("doc_id", "text").unionByName(
      Seq((999999L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val nullDel = Dedup.countingBloomRemove(
      Dedup.countingBloomBits(keysOf(withNull)),
      keysOf(withNull.where(col("doc_id") === 999999L)))
    assert(nullDel.where(col("pos").isNull).count() === 0)
    val nv = Dedup.countingBloomScreen(
      Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
        .select(col("doc_id"), md5(TextOps.normText(col("text")))
          .as("content_key")), nullDel).collect()
    assert(nv.length == 1 && !nv(0).getBoolean(2))
  }

  test("sharded counting bloom: shards=1 ≡ flat row-for-row; full x104 shape row-identical; geometry fits any corpus count") {
    def keysOf(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(TextOps.normText(col("text"))).as("content_key"))
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val ck = keysOf(corpus)
    // shards=1 build ≡ flat build (the routing hash mod 1 is 0, the
    // position space identical) — the equivalence that makes the
    // sharded form a pure scale-out of the flat one
    val flat = Dedup.countingBloomBits(ck)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = Dedup.shardedCountingBloomBits(ck, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(one.forall(_._1 == 0L), "shards=1 routed a key off shard 0")
    assert(one.map(t => (t._2, t._3)).toSet === flat,
      "shards=1 counting frame diverges from the flat frame")
    // the full delete-correct screen at shards=1 is ROW-identical to
    // the flat x103 operator (same positions, same decrements, same
    // audit) — the pin that the sharded twin changes only the keying
    val deleted = corpus.where(col("doc_id") % 5 === 1)
    val inc = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(corpus.orderBy("doc_id").limit(40)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1),
        r.getBoolean(2), r.getBoolean(3))).sortBy(_._1).toSeq
    assert(rows(Dedup.ingestScreenCountingSharded(corpus, deleted, inc, 1))
        === rows(Dedup.ingestScreenCounting(corpus, deleted, inc)),
      "shards=1 sharded counting screen diverges from the flat operator")
    // at shards>1 the FP set may legitimately differ (different
    // position spaces) but the exact audit and the no-false-negative
    // guarantee must hold unchanged
    val sharded = rows(Dedup.ingestScreenCountingSharded(
      corpus, deleted, inc, 4, mbits = 1 << 14))
    val flatRows = rows(Dedup.ingestScreenCounting(corpus, deleted, inc))
    assert(sharded.map(t => (t._1, t._3)) === flatRows.map(t => (t._1, t._3)),
      "sharded exact_seen diverges — the audit must be bloom-invisible")
    assert(sharded.forall(t => !t._3 || t._2),
      "sharded counting screen produced a false negative")
    // the geometry twin: flat until the flat range's edge, sharded
    // past it — no corpus count is ever refused
    assert(Dedup.adaptiveCountingGeometry(500) == ((1, 8192)))
    val (s9, m9) = Dedup.adaptiveCountingGeometry(1L << 31)
    assert(s9 > 1 && (m9 & (m9 - 1)) == 0,
      s"counting geometry past 2^30 positions must shard: ($s9, $m9)")
  }

  test("counting bloom multiplicity: min-over-positions upper-bounds exact corpus multiplicity; shards=1 ≡ flat") {
    def keysOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        md5(TextOps.normText(col("text"))).as("content_key"))
    val d = docs.select("doc_id", "text")
    // plant known multiplicities: every text ≥1, %4=2 texts +1, %8=2 +1
    val corpus = d.unionByName(d.where(col("doc_id") % 4 === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(d.where(col("doc_id") % 8 === 2)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val inc = d.where(col("doc_id") % 3 === 0).unionByName(
      d.where(col("doc_id") % 3 === 1).select(col("doc_id"),
        concat(col("text"), lit(" fresh "),
          col("doc_id").cast("string")).as("text")))
    val out = Dedup.multiplicityScreen(corpus, inc, shards = 4,
      mbits = 1 << 14).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // the CountMin bound: est ≥ true for EVERY doc, overcount = est−true
    assert(out.forall(t => t._2 >= t._3 && t._4 == t._2 - t._3),
      "min-over-positions must upper-bound the exact multiplicity")
    // the planted multiplicities are recovered exactly wherever no
    // collision inflates (collisions are the sized-for rate, so most
    // rows are exact) — and every indexed doc estimates ≥ 1
    val seen = out.filter(_._3 > 0)
    assert(seen.nonEmpty && seen.forall(_._2 >= 1L))
    assert(out.count(t => t._4 == 0L) > out.length / 2,
      "overcounts should be the exception at the sized-for rate")
    // multiplicity 3 rows exist (the %8=2 doubles ride the %4=2 ones)
    assert(out.exists(_._3 == 3L), "planted multiplicity-3 rows missing")
    // shards=1 ≡ flat, estimate-for-estimate (the sharded-family pin)
    val ck = corpus.select(md5(TextOps.normText(col("text")))
      .as("content_key"))
    val ik = keysOf(inc)
    def ests(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(ests(Dedup.shardedCountingBloomMultiplicity(ik,
        Dedup.shardedCountingBloomBits(ck, 1), 1))
      === ests(Dedup.countingBloomMultiplicity(ik,
        Dedup.countingBloomBits(ck))),
      "shards=1 sharded multiplicity diverges from the flat form")
  }

  test("counting bloom geometry pin: remove/screen/add refuse a frame built at different knobs; pin survives parquet") {
    def keysOf(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(TextOps.normText(col("text"))).as("content_key"))
    val ck = keysOf(docs.where(col("doc_id") % 3 =!= 0)).limit(50)
    val frame = Dedup.countingBloomBits(ck, mbits = 1 << 16)
    val ik = docs.limit(5).select(col("doc_id"),
      md5(TextOps.normText(col("text"))).as("content_key"))
    // a mismatched geometry can pass the negative refusal silently
    // (all colliding decrements staying >= 0) — the pin must refuse
    // UP FRONT, before any count arithmetic runs
    assertThrows[IllegalArgumentException](
      Dedup.countingBloomRemove(frame, ck.limit(1), mbits = 1 << 14))
    assertThrows[IllegalArgumentException](
      Dedup.countingBloomScreen(ik, frame, mbits = 1 << 14))
    assertThrows[IllegalArgumentException](
      Dedup.countingBloomAdd(frame, ck.limit(1), khash = 3))
    // sharded: the shard count is part of the geometry
    val sh = Dedup.shardedCountingBloomBits(ck, 4, mbits = 1 << 14)
    assertThrows[IllegalArgumentException](
      Dedup.shardedCountingBloomRemove(sh, ck.limit(1), 2, mbits = 1 << 14))
    assertThrows[IllegalArgumentException](
      Dedup.shardedCountingBloomScreen(ik, sh, 4, mbits = 1 << 12))
    // the pin rides the frame through persistence (column metadata in
    // the parquet footer): a stored filter reloaded months later still
    // refuses the wrong knobs and accepts the right ones
    val out = java.nio.file.Files
      .createTempDirectory("graft-cbgeom").toString + "/frame"
    frame.write.parquet(out)
    val loaded = spark.read.parquet(out)
    assertThrows[IllegalArgumentException](
      Dedup.countingBloomRemove(loaded, ck.limit(1), mbits = 1 << 14))
    // right geometry: remove of an inserted key succeeds (and the pin
    // survives the remove itself — its OUTPUT refuses mismatches too)
    val removed = Dedup.countingBloomRemove(loaded, ck.limit(1),
      mbits = 1 << 16)
    assertThrows[IllegalArgumentException](
      Dedup.countingBloomScreen(ik, removed, mbits = 1 << 14))
    assert(Dedup.countingBloomScreen(ik, removed, mbits = 1 << 16)
      .count() == 5)
    // add ∘ remove round-trips the frame exactly (the O(delta)
    // maintenance loop's algebra at frame level)
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tuples(Dedup.countingBloomAdd(removed, ck.limit(1),
        mbits = 1 << 16)) === tuples(loaded),
      "add(remove(F, D), D) must round-trip the frame")
  }

  test("ingestScreenFrom: verdict-identical to ingestScreen; the corpus aggregate runs ONCE across two screens") {
    import spark.implicits._
    // the corpus reaches the bit-array aggregate ONLY through this
    // accumulator-counting wrapper; the screens get the plain frame,
    // so the accumulator pins exactly "did a screen re-run the corpus
    // aggregate" (task retries could inflate it in theory — local mode
    // runs each partition once)
    val scans = spark.sparkContext.longAccumulator("corpus-agg-scans")
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("text"))
    val counted = corpus.as[(Long, String)]
      .mapPartitions { it => scans.add(1L); it }.toDF("doc_id", "text")
    val frame = Dedup.bloomFrameOf(counted) // eager: the one corpus pass
    val afterBuild = scans.value
    assert(afterBuild > 0, "bloomFrameOf must materialize eagerly")
    val inc1 = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    val inc2 = inc1.unionByName(corpus.orderBy("doc_id").limit(30)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val r1 = Dedup.ingestScreenFrom(corpus, frame, inc1)
    val r2 = Dedup.ingestScreenFrom(corpus, frame, inc2)
    r1.collect(); r2.collect()
    assert(scans.value === afterBuild,
      "a screen re-ran the corpus bit-array aggregate — the From " +
        "variant exists so repeated ingests reuse it")
    // verdict-identical to the self-building operator at equal geometry
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1),
        r.getBoolean(2), r.getBoolean(3))).sortBy(_._1).toSeq
    assert(rows(r2) === rows(Dedup.ingestScreen(corpus, inc2)),
      "ingestScreenFrom diverges from ingestScreen on the same frame")
  }

  test("From twins: sharded and counting screens against prebuilt frames equal the self-building operators") {
    def keysOf(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(TextOps.normText(col("text"))).as("content_key"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1),
        r.getBoolean(2), r.getBoolean(3))).sortBy(_._1).toSeq
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
      .select("doc_id", "text")
    val deleted = corpus.where(col("doc_id") % 5 === 1)
    val inc = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(corpus.orderBy("doc_id").limit(40)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    // sharded bit
    val shFrame = Dedup.shardedBloomFrameOf(corpus, 4, 1 << 14)
    assert(rows(Dedup.ingestScreenShardedFrom(corpus, shFrame, inc,
        4, 1 << 14))
      === rows(Dedup.ingestScreenSharded(corpus, inc, 4, 1 << 14)),
      "sharded From twin diverges")
    // counting: the maintained-frame loop — build once, remove the
    // in-corpus deletes, screen against the SURVIVING corpus
    val inCorpus = corpus.join(deleted.select("doc_id"),
      Seq("doc_id"), "left_semi")
    val surviving = corpus.join(deleted.select("doc_id"),
      Seq("doc_id"), "left_anti")
    val counts = Dedup.countingBloomRemove(
      Dedup.countingBloomBits(keysOf(corpus)), keysOf(inCorpus))
    assert(rows(Dedup.ingestScreenCountingFrom(surviving, counts, inc))
      === rows(Dedup.ingestScreenCounting(corpus, deleted, inc)),
      "counting From twin diverges")
    val shCounts = Dedup.shardedCountingBloomRemove(
      Dedup.shardedCountingBloomBits(keysOf(corpus), 4, 1 << 14),
      keysOf(inCorpus), 4, 1 << 14)
    assert(rows(Dedup.ingestScreenCountingShardedFrom(surviving,
        shCounts, inc, 4, 1 << 14))
      === rows(Dedup.ingestScreenCountingSharded(corpus, deleted, inc,
        4, 1 << 14)),
      "sharded counting From twin diverges")
  }

  test("countingBloomStats: exact live-key count, occupied fill, and the delete loop's resize signal") {
    def keysOf(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(TextOps.normText(col("text"))).as("content_key"))
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val ck = keysOf(corpus)
    val n = ck.where(col("content_key").isNotNull).count()
    val frame = Dedup.countingBloomBits(ck)
    val st = Dedup.countingBloomStats(frame)
    // Σcnt = khash·n exactly — the counting report's key count is the
    // live multiset size, not a fill-curve estimate
    assert(st.estimatedKeys === n,
      s"counting key count ${st.estimatedKeys} != exact $n")
    assert(st.setBits === frame.where(col("cnt") > 0).count())
    assert(st.fillRatio === st.setBits.toDouble / Dedup.BloomMBits)
    assert(st.impliedFpRate === math.pow(st.fillRatio, Dedup.BloomHashes))
    // the O(delta) loop moves the report exactly: removing d docs'
    // keys drops the live count by d (multiset — every occurrence
    // counts), occupied never grows
    val del = corpus.orderBy("doc_id").limit(7)
    val after = Dedup.countingBloomStats(
      Dedup.countingBloomRemove(frame, keysOf(del)))
    assert(after.estimatedKeys === n - 7)
    assert(after.setBits <= st.setBits)
    // sharded twin: same exact count at shards·mbits capacity, and
    // the geometry pin refuses a mis-declared shard count
    val sh = Dedup.shardedCountingBloomBits(ck, 4, 1 << 14)
    val shSt = Dedup.countingBloomStats(sh, 1 << 14, shards = 4)
    assert(shSt.estimatedKeys === n)
    assert(shSt.fillRatio === shSt.setBits.toDouble / (4L * (1 << 14)))
    assertThrows[IllegalArgumentException](
      Dedup.countingBloomStats(sh, 1 << 14, shards = 2))
  }

  test("bloom geometry: adaptive sizing is next-pow2 of 10 bits/key; screen never joins the corpus") {
    assert(Dedup.adaptiveBloomBits(0) == 1024)
    assert(Dedup.adaptiveBloomBits(100) == 1024)
    assert(Dedup.adaptiveBloomBits(103) == 2048) // 1030 bits > 1024
    assert(Dedup.adaptiveBloomBits(1L << 20) == (1 << 24)) // 10*2^20 -> 2^24
    assertThrows[IllegalArgumentException](
      Dedup.adaptiveBloomBits(1L << 31)) // needs sharding, says so
    // the full geometry: one flat shard up to the flat form's range,
    // then shard counts that keep every per-shard array inside it
    assert(Dedup.adaptiveBloomGeometry(500) == ((1, 8192)))
    assert(Dedup.adaptiveBloomGeometry(1L << 26) == ((1, 1 << 30)))
    for (n <- Seq(1L << 31, (1L << 31) - 1, 3L * (1L << 30), 1L << 37)) {
      val (s9, m9) = Dedup.adaptiveBloomGeometry(n)
      val perShard = (n + s9 - 1) / s9
      assert(s9 > 1 && 10L * perShard <= (1L << 30),
        s"n=$n: shard share past the flat range: ($s9, $m9)")
      assert(m9 >= 32 && (m9 & (m9 - 1)) == 0 && m9 >= 10L * perShard / 2,
        s"n=$n: bad per-shard bits: ($s9, $m9)")
    }
    // the scale claim made of the plan: the screen's only join input
    // besides the increment is the bloom frame (bounded by mbits/32
    // rows) — the corpus reaches the plan ONLY through the one
    // bit-array aggregate, never a per-increment-row join. The exact
    // twin inside ingestScreen joins broadcast(distinct corpus KEYS) —
    // the audit path — so the screen-only plan is what's asserted.
    val ik = docs.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"), md5(TextOps.normText(col("text"))).as("content_key"))
    val bloom = Dedup.bloomBits(
      docs.where(col("doc_id") % 3 =!= 0)
        .select(md5(TextOps.normText(col("text"))).as("content_key")))
    assert(bloom.count() <= Dedup.BloomMBits / 32)
    val plan = Dedup.bloomScreen(ik, bloom)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bloom screen's word join is not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }
}
