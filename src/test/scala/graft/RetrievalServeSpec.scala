package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HybridOps, TextOps, VectorOps}
import graft.serve.Retrieval

/** The snapshot serve surface: build/load/search must compose the
  * audited halves verbatim, so every serve is equivalence-comparable
  * to the in-memory builds — and the publish must be atomic-replace. */
class RetrievalServeSpec extends AnyFunSuite with SparkSpec {

  private lazy val docs = graft.sources.Tables.documents(spark, sf)
    .select("doc_id", "text").cache()
  private lazy val emb = graft.sources.Tables.embeddings(spark, sf)
    .select("vec_id", "embedding").cache()

  private def rows(df: DataFrame) =
    df.orderBy("query_id", "rn").collect().map(_.toSeq).toSeq

  /** The Spark jobs `body` runs (their stage names), counted between two
    * marker jobs: listener events arrive in order, so seeing the closing
    * marker means every job of `body` was seen. */
  private def jobsOf(body: => Any): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val phase = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        props.map(_.getProperty("spark.job.description")) match {
          case Some("graft-count-open") => phase.compareAndSet(0, 1)
          case Some("graft-count-close") => phase.compareAndSet(1, 2)
          case _ => if (phase.get == 1)
            sites.add(js.stageInfos.map(_.name).mkString("+"))
        }
      }
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("graft-count-open")
      body
      marker("graft-count-close")
      val t0 = System.currentTimeMillis()
      while (phase.get != 2 && System.currentTimeMillis() - t0 < 10000) Thread.sleep(25)
      assert(phase.get === 2, "closing marker job never seen")
    } finally spark.sparkContext.removeSparkListener(listener)
    sites.toArray.toSeq.map(_.toString)
  }

  /** One full-fixture snapshot shared by the tests that only inspect
    * it (the others mutate their own). */
  private lazy val snap: (String, Retrieval) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap")
      .toString + "/snap"
    (dir, Retrieval.build(docs, emb, dir))
  }

  test("snapshot build + load + search equal the in-memory composed halves") {
    val dir = java.nio.file.Files.createTempDirectory("graft-serve")
      .toString + "/snap"
    val built = Retrieval.build(docs, emb, dir)
    val loaded = Retrieval.load(spark, dir)
    // codebooks round-trip through raw IEEE-754 bits — bit-identical
    assert(loaded.cents === built.cents)
    assert(loaded.books === built.books)

    val queries = Seq(0L -> Seq("spark", "join"), 1L -> Seq("vector", "table"))
    val queryIds = queries.map(_._1)

    // lexical half ≡ the one-shot batch build over the corpus
    val lexWant = rows(TextOps.bm25TopK(docs, queries, 5))
    assert(lexWant.nonEmpty, "lexical reference empty; test is vacuous")
    assert(rows(loaded.lexicalTopK(queries, 5)) === lexWant)

    // dense half ≡ refine over the in-memory residual index under the
    // same codebooks (stored index vs freshly encoded: same rows)
    val idx = VectorOps.ivfPqIndex(emb, built.cents, built.books,
      residual = true)
    val probed = VectorOps.probedCellsOf(emb, queryIds, built.cents, 2)
    val denseWant = rows(VectorOps.ivfPqRefineTopK(
      idx.where(col("cell").isin(probed: _*)), emb, queryIds, 5,
      VectorOps.RefineShortlist, 2, built.cents, built.books,
      residual = true))
    assert(denseWant.nonEmpty, "dense reference empty; test is vacuous")
    assert(rows(loaded.denseTopK(queryIds, 5)) === denseWant)

    // fused search ≡ an INDEPENDENT composition of in-memory halves
    val denseRef = VectorOps.ivfPqRefineTopK(
      idx.where(col("cell").isin(probed: _*)), emb, queryIds, 5,
      VectorOps.RefineShortlist, 2, built.cents, built.books,
      residual = true).withColumnRenamed("vec_id", "doc_id")
    for (p <- Seq[HybridOps.Fusion](HybridOps.Rrf, HybridOps.Weighted())) {
      val want = rows(HybridOps.fuse(
        TextOps.bm25TopK(docs, queries, 5), denseRef, 5, p))
      assert(want.nonEmpty)
      assert(rows(loaded.search(queries, 5, p)) === want,
        s"snapshot serve diverges from the composed in-memory halves under $p")
    }
    // single-half policies route to the matching half
    assert(rows(loaded.search(queries, 5, HybridOps.LexicalOnly)) === lexWant)
    assert(rows(loaded.search(queries, 5, HybridOps.DenseOnly)) ===
      rows(denseRef))

    // driver-side query tokenization uses the ENGINE's rule: identical
    // to what Spark's own tokenizer produces for the same raw strings
    // (case folding, repeated whitespace)
    val rawQueries = Seq(0L -> "Spark  JOIN", 1L -> "vector table")
    val tokenized = HybridOps.tokenizeQueries(rawQueries)
    val sess = spark
    import sess.implicits._
    val engineTok = rawQueries.toDF("id", "text")
      .select(col("id"), TextOps.tokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(tokenized.forall { case (id, ts) => engineTok(id) === ts },
      "driver-side tokenization diverges from the engine tokenizer")

    // rebuild REPLACES the snapshot atomically; the new handle and a
    // fresh load both serve the new corpus
    val smaller = docs.where(col("doc_id") < 250)
    Retrieval.build(smaller, emb, dir)
    val reloaded = Retrieval.load(spark, dir)
    val lexSmall = rows(TextOps.bm25TopK(smaller, queries, 5))
    assert(lexSmall !== lexWant, "rebuild corpus change invisible; vacuous")
    assert(rows(reloaded.lexicalTopK(queries, 5)) === lexSmall)
  }

  test("snapshot layout: build publishes exactly the frames search reads") {
    val (dir, _) = snap
    def entries(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
    // data entries only: Spark's `_SUCCESS` and `.crc` side files are
    // the writer's bookkeeping, not frames
    def data(d: java.io.File) = entries(d).filterNot(f =>
      f.getName.startsWith("_") || f.getName.startsWith("."))
    val root = new java.io.File(dir)
    assert(entries(root).map(_.getName).toSet ===
      Set("codebook.txt", "pqbooks.txt", "corpus.txt", "index", "emb", "tf", "dl"))
    // the IVFADC frame is cell-partitioned (the probe prunes on it) ...
    val cells = data(new java.io.File(root, "index"))
    assert(cells.nonEmpty && cells.forall(f =>
      f.isDirectory && f.getName.matches("cell=-?\\d+")),
      s"index/ is not cell-partitioned: ${cells.map(_.getName)}")
    // ... and the id-keyed frames are flat parquet files
    for (frame <- Seq("emb", "tf", "dl")) {
      val fs = data(new java.io.File(root, frame))
      assert(fs.nonEmpty && fs.forall(f =>
        f.isFile && f.getName.endsWith(".parquet")),
        s"$frame/ is partitioned or empty: ${fs.map(_.getName)}")
    }
  }

  test("publish crash in the swap window leaves a loadable snapshot") {
    val root = java.nio.file.Files.createTempDirectory("graft-swap").toString
    val live = s"$root/snap"
    val queries = Seq(0L -> Seq("spark", "join"))
    Retrieval.build(docs, emb, live)
    val before = rows(Retrieval.load(spark, live).lexicalTopK(queries, 5))
    assert(before.nonEmpty)

    // a second, fully-staged snapshot (different corpus, so a wrongly
    // committed one would serve visibly different results)
    val smaller = docs.where(col("doc_id") < 250)
    Retrieval.build(smaller, emb, s"$root/staged")
    val lexSmall = rows(TextOps.bm25TopK(smaller, queries, 5))
    assert(lexSmall !== before, "staged corpus change invisible; vacuous")

    // kill the publish exactly between live→aside and staged→live: the
    // live dir is momentarily gone, but the OLD snapshot is complete
    // under its aside name — nothing is ever half-deleted
    object Crash extends Exception
    intercept[Crash.type] {
      Retrieval.publish(new java.io.File(s"$root/staged"), live,
        betweenRenames = () => throw Crash)
    }
    assert(!new java.io.File(live, "codebook.txt").exists(),
      "crash injected after the aside rename; live must be vacant")

    // load() recovers the stranded aside and serves the OLD corpus
    assert(rows(Retrieval.load(spark, live).lexicalTopK(queries, 5))
      === before, "post-crash load must serve the pre-publish snapshot")
    assert(new java.io.File(live, "codebook.txt").exists())

    // the staged snapshot survived the crash; retrying the publish
    // completes the swap and sweeps every aside
    Retrieval.publish(new java.io.File(s"$root/staged"), live)
    assert(rows(Retrieval.load(spark, live).lexicalTopK(queries, 5))
      === lexSmall)
    assert(!new java.io.File(root).listFiles()
      .exists(_.getName.startsWith("snap.old-")), "aside not swept")
  }

  test("a snapshot republished from another corpus scores with the new N and avgdl") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stale")
      .toString + "/snap"
    val queries = Seq(0L -> Seq("spark", "join"), 1L -> Seq("vector", "table"))
    val first = Retrieval.build(docs, emb, dir)
    // every other doc: N and avgdl move while many matching docs stay
    val other = docs.where(col("doc_id") % 2 === 0)
    Retrieval.build(other, emb, dir)
    val fresh = Retrieval.load(spark, dir)
    assert(fresh.corpus.n === other.count())
    assert(fresh.corpus !== first.corpus, "corpus constants unchanged; vacuous")
    val want = rows(TextOps.bm25TopK(other, queries, 5))
    assert(want.nonEmpty, "lexical reference empty; test is vacuous")
    assert(rows(fresh.lexicalTopK(queries, 5)) === want)
    // the constants matter: the new postings under the old N/avgdl
    // score differently, so a handle that kept them would be caught
    val (tf, dl) = TextOps.bm25Stats(other)
    assert(rows(TextOps.bm25TopKFrom(tf, dl, queries, 5,
      corpus = Some(first.corpus))) !== want,
      "stale constants score identically; vacuous")
  }

  test("one 8-query search over a built snapshot runs at most 5 Spark jobs") {
    val (_, h) = snap
    val terms = Seq("spark", "join", "vector", "table", "data")
    val queries = (0L until 8L).map(q => q -> terms.drop((q % 3).toInt))
    assert(rows(h.search(queries, 10)).nonEmpty, "search is empty; vacuous")
    val jobs = jobsOf(h.search(queries, 10).collect())
    assert(jobs.size <= 5, s"${jobs.size} jobs per search: ${jobs.mkString("; ")}")
  }

  test("a build with its load runs at most 10 Spark jobs, the load none") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs")
      .toString + "/snap"
    // ONE training collect and the four frame writes (tf's
    // localCheckpoint and the shuffles' stages a few more): no corpus
    // count, no per-round training jobs, no corpus-constants job at load
    docs.schema; emb.schema // the fixture reads' own inference jobs
    val built = jobsOf(Retrieval.build(docs, emb, dir))
    info(s"${built.size} jobs per build: ${built.mkString("; ")}")
    assert(built.size <= 10, s"${built.size} jobs per build: ${built.mkString("; ")}")
    val loaded = jobsOf(Retrieval.load(spark, dir))
    assert(loaded.isEmpty, s"${loaded.size} jobs per load: ${loaded.mkString("; ")}")
  }

  test("corpus.txt holds N and Σdl: the handle's constants equal bm25CorpusOf(dl) bit for bit") {
    val (dir, h) = snap
    val want = TextOps.bm25CorpusOf(spark.read.parquet(s"$dir/dl"))
    val (tf, dl) = TextOps.bm25Stats(docs)
    assert(TextOps.bm25CorpusOf(dl) === want)
    for (c <- Seq(h.corpus, Retrieval.load(spark, dir).corpus)) {
      assert(c.n === want.n)
      assert(java.lang.Double.doubleToRawLongBits(c.avgdl) ===
        java.lang.Double.doubleToRawLongBits(want.avgdl))
    }
    val Array(n, sumDl) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "corpus.txt")).split(",").map(_.toLong)
    assert(n === 500L && sumDl === dl.agg(sum("dl")).head().getLong(0))
    assert(tf.count() > n, "one posting per doc; vacuous")

    // an empty corpus: N = 0 and avgdl NaN, as bm25CorpusOf reads them
    val emptyDir = java.nio.file.Files.createTempDirectory("graft-empty")
      .toString + "/snap"
    val empty = Retrieval.build(docs.limit(0), emb, emptyDir).corpus
    val wantEmpty = TextOps.bm25CorpusOf(spark.read.parquet(s"$emptyDir/dl"))
    assert(empty.n === 0L && wantEmpty.n === 0L)
    assert(java.lang.Double.doubleToRawLongBits(empty.avgdl) ===
      java.lang.Double.doubleToRawLongBits(wantEmpty.avgdl))
  }

  test("adaptive cell count: build sizes cells ≈ √n and persists them") {
    // the derivation and its clamps (mirrored bit-for-bit by
    // adaptiveCellsSql — round of √integer can't land on .5)
    assert(VectorOps.adaptiveCells(500) === 22)
    assert(VectorOps.adaptiveCells(2000) === 45) // the sf0.1 build's pick
    assert(VectorOps.adaptiveCells(4) === 16) // clamp floor
    assert(VectorOps.adaptiveCells(10_000_000_000L) === 65536) // ceiling

    // a build over the 500-vector fixture trains √500 ≈ 22 cells and
    // the count round-trips through the persisted codebook
    val (dir, h) = snap
    assert(h.cents.size === 22)
    assert(Retrieval.load(spark, dir).cents.size === 22)
  }
}
