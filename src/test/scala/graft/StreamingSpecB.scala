package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.operators.{Analytics, IndexerOps}
import graft.sources.Tables
import graft.sources.Tables._
import graft.streaming.{StreamingAgg, StreamingCdc}
import graft.sync.{IndexStore, SyncPipeline, WatermarkStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming CDC: the streaming path must converge to the
  * same store state as the batch incremental sync over the same data,
  * and the watermarked windowed agg must equal its batch twin. */
/** [[StreamingSpec]] part B (compaction/dedup/bloom-chain tests) —
  * split for parallel forked-group execution; same coverage, no test
  * renamed or dropped. */
class StreamingSpecB extends AnyFunSuite with SparkSpec {

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  /** Split the events fixture into `n` time-ordered parquet files in one
    * source dir — the file-stream analog of a CDC feed arriving over
    * time. */
  private def writeTimeSlicedSource(dir: Path, n: Int): Unit = {
    val ev = Tables.events(spark, sf).orderBy("ts").cache()
    val total = ev.count()
    val per = (total + n - 1) / n
    val ids = ev.select("event_id").collect().map(_.getLong(0))
    (0 until n).foreach { i =>
      val slice = ids.slice((i * per).toInt, math.min(((i + 1) * per).toInt, ids.length))
      val stage = tmp(s"slice$i")
      ev.where(col("event_id").isin(slice: _*))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          Files.copy(p, dir.resolve(f"slice_$i%03d.parquet"))
          moved = true
        }
      }
      assert(moved, s"no parquet part written for slice $i")
    }
    ev.unpersist()
  }

  test("streaming artifact compaction: slices fold to one generation, served results unchanged, stream continues on top") {
    import graft.operators.{TextOps, VectorOps}
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    val embAll = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val books = VectorOps.pqTrainedCodebooks(embAll)
    val queries = Seq(0L -> Seq("spark", "join"), 1L -> Seq("vector", "table"))
    val queryIds = Seq(0L, 60L)
    def rows(df: DataFrame) =
      df.orderBy("query_id", "rn").collect().map(_.toSeq).toSeq
    def sliceDirs(root: String, frame: String) =
      Option(new java.io.File(s"$root/$frame").listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("gbatch="))
    def dataFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) dataFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty)

    // three batches: two upsert waves, then a re-crawl + tombstone wave
    val recrawl = docsAll.where(col("doc_id") < 30)
      .withColumn("text", concat(col("text"), lit(" compacted recrawl")))
    val lexRoot = tmp("cmp-lex").toString
    val sl = new graft.streaming.StreamingLexical(lexRoot)
    sl.indexBatch(docsAll.where(col("doc_id") < 100), 0)
    sl.indexBatch(docsAll.where(col("doc_id") >= 100 && col("doc_id") < 200), 1)
    sl.indexBatch(recrawl.withColumn("is_deleted", lit(false))
      .unionByName(docsAll.where(col("doc_id") >= 150 && col("doc_id") < 200)
        .withColumn("is_deleted", lit(true))), 2)
    val before = rows(sl.topK(spark, queries, 5).get)
    assert(before.nonEmpty)
    val beforeChunk = rows(sl.chunkTopK(spark, queries, 5).get)
    assert(beforeChunk.nonEmpty)
    val hw = sl.compact(spark, graceMs = 0)
    assert(hw == 2, s"high-water batch id: expected 2, got $hw")
    // served results byte-identical; every pre-compaction slice gone;
    // ONE data file per frame regardless of how many batches arrived
    assert(rows(sl.topK(spark, queries, 5).get) === before,
      "compaction changed the served BM25 results")
    assert(rows(sl.chunkTopK(spark, queries, 5).get) === beforeChunk,
      "compaction changed the served chunk results")
    for (f <- Seq("tf", "dl", "ctf", "cdl", "ops")) {
      assert(sliceDirs(lexRoot, f).isEmpty, s"stale $f slices survive compaction")
      val gen = java.nio.file.Files.readString(
        java.nio.file.Paths.get(lexRoot, "COMPACT")).trim
      val files = dataFiles(new java.io.File(s"$lexRoot/$gen/$f"))
      assert(files.size == 1, s"$f: expected 1 compacted file, got ${files.size}")
    }
    // replay of a pre-compaction batch is invisible (reads ignore <= hw)
    sl.indexBatch(docsAll.where(col("doc_id") >= 100 && col("doc_id") < 200), 1)
    assert(rows(sl.topK(spark, queries, 5).get) === before,
      "pre-compaction batch replay leaked into the compacted serve")
    // the stream continues on top: new docs + a re-crawl of a COMPACTED
    // doc, serve ≡ batch build over the updated live corpus
    val refresh = docsAll.where(col("doc_id") >= 40 && col("doc_id") < 50)
      .withColumn("text", concat(col("text"), lit(" post compaction refresh")))
    sl.indexBatch(docsAll.where(col("doc_id") >= 200 && col("doc_id") < 250)
      .unionByName(refresh), 3)
    val liveDocs = recrawl
      .unionByName(docsAll.where(col("doc_id") >= 30 && col("doc_id") < 40))
      .unionByName(refresh)
      .unionByName(docsAll.where(col("doc_id") >= 50 && col("doc_id") < 150))
      .unionByName(docsAll.where(col("doc_id") >= 200 && col("doc_id") < 250))
    assert(rows(sl.topK(spark, queries, 5).get) ===
      rows(TextOps.bm25TopK(liveDocs, queries, 5)),
      "post-compaction indexing diverges from the live-corpus batch build")
    // an orphaned generation (crash between write and pointer swap) is
    // ignored by reads and swept by the next compaction
    val orphan = new java.io.File(s"$lexRoot/compact-99-orphan")
    assert(orphan.mkdirs())
    assert(sl.compact(spark, graceMs = 0) == 3)
    assert(!orphan.exists(), "orphaned generation not swept")
    assert(rows(sl.topK(spark, queries, 5).get) ===
      rows(TextOps.bm25TopK(liveDocs, queries, 5)),
      "second compaction changed the served results")

    // the dense artifact under the same protocol
    val vecRoot = tmp("cmp-vec").toString
    val sv = new graft.streaming.StreamingVectorIndex(vecRoot, books)
    sv.indexBatch(embAll.where(col("vec_id") < 100), 0)
    sv.indexBatch(embAll.where(col("vec_id") >= 100 && col("vec_id") < 200), 1)
    sv.indexBatch(embAll.where(col("vec_id") >= 150 && col("vec_id") < 200)
      .withColumn("is_deleted", lit(true)), 2)
    val adcBefore = rows(sv.topK(spark, queryIds, 5).get)
    assert(sv.compact(spark, graceMs = 0) == 2)
    assert(rows(sv.topK(spark, queryIds, 5).get) === adcBefore,
      "compaction changed the served ADC results")
    val liveEmb = embAll.where(col("vec_id") < 150)
    assert(adcBefore === rows(VectorOps.pqTopK(liveEmb, queryIds, 5, Some(books))),
      "compacted ADC serve diverges from the live-corpus batch build")
    for (f <- Seq("emb", "codes", "ops"))
      assert(sliceDirs(vecRoot, f).isEmpty, s"stale $f slices survive compaction")
  }

  test("streaming incremental dedup: end state equals a slice-by-slice batch replay") {
    import graft.operators.Dedup
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    // two arrival slices by doc_id (deterministic, both non-trivial)
    val cut = 250L
    val slices = Seq(docsAll.where(col("doc_id") < cut),
      docsAll.where(col("doc_id") >= cut))
    val src = tmp("sdedup-src")
    slices.zipWithIndex.foreach { case (s, i) =>
      val stage = tmp(s"sdedup-slice$i")
      s.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, src.resolve(f"slice_$i%03d.parquet"))
    }
    val minJ = 0.5
    val sd = new graft.streaming.StreamingDedup(
      tmp("sdedup-art").toString, tmp("sdedup-out").toString, minJ)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val batches = sd.screenAvailable(spark, stream, tmp("sdedup-ckpt").toString)
    assert(batches >= 2, s"expected one batch per slice, got $batches")
    val got = sd.verdicts(spark).get.orderBy("doc_id")
      .collect().map(_.toSeq).toSeq

    // batch replay of the same greedy-sequential policy
    var accSh: Option[org.apache.spark.sql.DataFrame] = None
    var accSigs: Option[org.apache.spark.sql.DataFrame] = None
    val want = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    for (s <- slices) {
      val sh = Dedup.shingleFrame(s).cache()
      val sigs = Dedup.minHashSignaturesFrom(sh).cache()
      def best(pairs: org.apache.spark.sql.DataFrame) = pairs
        .groupBy(col("doc_b").as("doc_id"))
        .agg(max(struct(col("jaccard"), (-col("doc_a")).as("nid"))).as("m"))
        .select(col("doc_id"), (-col("m.nid")).as("dup_of"),
          col("m.jaccard").as("jaccard"))
      val fromCorpus = (accSigs, accSh) match {
        case (Some(cs), Some(csh)) =>
          best(Dedup.crossCorpusPairs(cs, csh, sigs, sh, minJ))
        case _ => null
      }
      val inner = best(Dedup.nearDupPairsFrom(sigs, sh, minJ))
      val dups = Option(fromCorpus).map(_.unionByName(inner)).getOrElse(inner)
        .groupBy("doc_id")
        .agg(max(struct(col("jaccard"), (-col("dup_of")).as("nid"))).as("m"))
        .select(col("doc_id"), (-col("m.nid")).as("dup_of"),
          col("m.jaccard").as("jaccard"))
      val verdicts = s.select("doc_id").join(dups, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_of"), col("jaccard"),
          col("dup_of").isNull.as("accepted"))
      want ++= verdicts.collect().map(_.toSeq)
      val acceptedIds = verdicts.where(col("accepted")).select("doc_id")
      accSh = Some(accSh.map(_.unionByName(sh.join(acceptedIds, "doc_id")))
        .getOrElse(sh.join(acceptedIds, "doc_id")).cache())
      accSigs = Some(accSigs.map(_.unionByName(sigs.join(acceptedIds, "doc_id")))
        .getOrElse(sigs.join(acceptedIds, "doc_id")).cache())
    }
    val wantSorted = want.sortBy(_(0).asInstanceOf[Long]).toSeq
    assert(got.nonEmpty && got === wantSorted,
      "streaming dedup end state diverges from the batch replay")
    // non-vacuity: the stream must have rejected something via BOTH paths
    val rejected = got.filterNot(_(3).asInstanceOf[Boolean])
    assert(rejected.nonEmpty, "no duplicates detected; test is vacuous")
    val crossCorpus = rejected.filter(r =>
      r(0).asInstanceOf[Long] >= cut && r(1).asInstanceOf[Long] < cut)
    assert(crossCorpus.nonEmpty,
      "no slice-2 doc matched the accepted corpus; incremental path untested")
  }

  test("streaming semantic dedup: end state equals a slice-by-slice batch replay") {
    import graft.operators.VectorOps
    val embAll = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val cut = 250L
    val slices = Seq(embAll.where(col("vec_id") < cut),
      embAll.where(col("vec_id") >= cut))
    val src = tmp("ssem-src")
    slices.zipWithIndex.foreach { case (s, i) =>
      val stage = tmp(s"ssem-slice$i")
      s.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, src.resolve(f"slice_$i%03d.parquet"))
    }
    val minC = 0.2
    val sd = new graft.streaming.StreamingSemanticDedup(
      tmp("ssem-art").toString, tmp("ssem-out").toString, minC)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val batches = sd.screenAvailable(spark, stream, tmp("ssem-ckpt").toString)
    assert(batches >= 2, s"expected one batch per slice, got $batches")
    val got = sd.verdicts(spark).get.orderBy("vec_id")
      .collect().map(_.toSeq).toSeq

    // batch replay of the same greedy-sequential policy
    var accReps: Option[org.apache.spark.sql.DataFrame] = None
    val want = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    for (s <- slices) {
      val vecs = s.cache()
      def best(cands: org.apache.spark.sql.DataFrame) = cands
        .groupBy("vec_id")
        .agg(max(struct(col("cosine"), (-col("dup_cand")).as("nid"))).as("m"))
        .select(col("vec_id"), (-col("m.nid")).as("dup_of"),
          col("m.cosine").as("cosine"))
      val fromCorpus = accReps.map(r =>
        best(VectorOps.crossEmbeddingNearDups(vecs, r, minC)
          .select(col("vec_a").as("vec_id"), col("vec_b").as("dup_cand"),
            col("cosine"))))
      val inner = best(VectorOps.embeddingNearDups(vecs, minC)
        .select(col("vec_b").as("vec_id"), col("vec_a").as("dup_cand"),
          col("cosine")))
      val dups = fromCorpus.map(_.unionByName(inner)).getOrElse(inner)
        .groupBy("vec_id")
        .agg(max(struct(col("cosine"), (-col("dup_of")).as("nid"))).as("m"))
        .select(col("vec_id"), (-col("m.nid")).as("dup_of"),
          col("m.cosine").as("cosine"))
      val verdicts = vecs.select("vec_id").join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("dup_of"), col("cosine"),
          col("dup_of").isNull.as("accepted"))
      want ++= verdicts.collect().map(_.toSeq)
      val acceptedIds = verdicts.where(col("accepted")).select("vec_id")
      accReps = Some(accReps.map(_.unionByName(vecs.join(acceptedIds, "vec_id")))
        .getOrElse(vecs.join(acceptedIds, "vec_id")).cache())
    }
    val wantSorted = want.sortBy(_(0).asInstanceOf[Long]).toSeq
    assert(got.nonEmpty && got === wantSorted,
      "streaming semantic dedup end state diverges from the batch replay")
    // non-vacuity: rejections via BOTH the corpus and within-batch paths
    val rejected = got.filterNot(_(3).asInstanceOf[Boolean])
    assert(rejected.nonEmpty, "no semantic duplicates detected; test is vacuous")
    assert(rejected.exists(r =>
      r(0).asInstanceOf[Long] >= cut && r(1).asInstanceOf[Long] < cut),
      "no slice-2 vector matched the accepted corpus; incremental path untested")
    assert(rejected.exists(r =>
      (r(0).asInstanceOf[Long] < cut) == (r(1).asInstanceOf[Long] < cut)),
      "no within-batch rejection; inner path untested")
  }

  test("streaming heavy hitters: MG guarantees hold at the end-state sketch") {
    import spark.implicits._
    // skewed synthetic stream, vocab >> k, two arrival slices
    val k = 8
    val rows = (0 until 6000).map { i =>
      val lang = if (i % 2 == 0) "aa" else "bb"
      val tok = if (i % 3 == 0) s"hot${i % 2}" else s"cold${i % 97}"
      (i, lang, tok)
    }
    val src = tmp("hh-src")
    Seq(rows.take(3000), rows.drop(3000)).zipWithIndex.foreach { case (s, i) =>
      val stage = tmp(s"hh-slice$i")
      s.toDF("i", "lang", "text").select("lang", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, src.resolve(f"slice_$i%03d.parquet"))
    }
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val q = graft.streaming.StreamingHeavyHitters.track(spark, stream, k)
      .writeStream.format("memory").queryName("hh")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val all = spark.table("hh").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(all.map(_._2).distinct.length >= 2, "only one emission; stream ran once")
    // end state per lang = the rows at that lang's max n_seen
    val finalSk = all.groupBy(_._1).map { case (lang, rs) =>
      val nMax = rs.map(_._2).max
      lang -> (nMax, rs.filter(_._2 == nMax).map(r => r._3 -> r._4).toMap)
    }
    val exact = rows.groupBy(_._2).map { case (lang, rs) =>
      lang -> rs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    }
    exact.foreach { case (lang, counts) =>
      val (n, sk) = finalSk(lang)
      assert(n === counts.values.sum, s"$lang: n_seen drifted")
      assert(sk.size <= k, s"$lang: sketch exceeded $k counters")
      val floor = n.toDouble / (k + 1)
      counts.filter(_._2 > floor).foreach { case (t, c) =>
        assert(sk.contains(t), s"$lang: heavy '$t' (c=$c) missing from end state")
        assert(sk(t) <= c && sk(t) >= c - floor,
          s"$lang: '$t' est ${sk(t)} outside [c-n/(k+1), c]")
      }
      sk.foreach { case (t, est) =>
        assert(est <= counts.getOrElse(t, 0L), s"$lang: '$t' overcounts")
      }
    }
  }

  test("streaming screens are checkpoint-replay idempotent (batch re-run ≡ first run)") {
    // a crashed-before-checkpoint-commit batch is re-delivered with the
    // SAME batchId; the screen must re-produce identical verdicts and
    // artifact slices — in particular the corpus read must exclude the
    // replayed batch's own leftover slice, or every replayed row
    // self-matches and flips to rejected
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    val s0 = docsAll.where(col("doc_id") < 250)
    val s1 = docsAll.where(col("doc_id") >= 250)
    val sd = new graft.streaming.StreamingDedup(
      tmp("rply-art").toString, tmp("rply-out").toString, 0.5)
    sd.screenBatch(s0, 0)
    sd.screenBatch(s1, 1)
    val before = sd.verdicts(spark).get.orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    sd.screenBatch(s1, 1) // replay
    val after = sd.verdicts(spark).get.orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(after === before, "lexical screen diverged on replay")

    val embAll = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val e0 = embAll.where(col("vec_id") < 250)
    val e1 = embAll.where(col("vec_id") >= 250)
    val ss = new graft.streaming.StreamingSemanticDedup(
      tmp("rplys-art").toString, tmp("rplys-out").toString, 0.2)
    ss.screenBatch(e0, 0)
    ss.screenBatch(e1, 1)
    val sBefore = ss.verdicts(spark).get.orderBy("vec_id")
      .collect().map(_.toSeq).toSeq
    ss.screenBatch(e1, 1) // replay
    val sAfter = ss.verdicts(spark).get.orderBy("vec_id")
      .collect().map(_.toSeq).toSeq
    assert(sAfter === sBefore, "semantic screen diverged on replay")
    assert(sBefore.exists(r => !r(3).asInstanceOf[Boolean]),
      "no rejections at all; replay test is vacuous")
  }

  test("streaming substring screen: end state equals a slice-by-slice batch replay") {
    import graft.operators.Dedup
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    val cut = 250L
    val slices = Seq(docsAll.where(col("doc_id") < cut),
      docsAll.where(col("doc_id") >= cut))
    val src = tmp("ssub-src")
    slices.zipWithIndex.foreach { case (s, i) =>
      val stage = tmp(s"ssub-slice$i")
      s.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, src.resolve(f"slice_$i%03d.parquet"))
    }
    val ss = new graft.streaming.StreamingSubstring(
      tmp("ssub-art").toString, tmp("ssub-out").toString)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val batches = ss.screenAvailable(spark, stream, tmp("ssub-ckpt").toString)
    assert(batches >= 2, s"expected one batch per slice, got $batches")
    val got = ss.verdicts(spark).get.orderBy("doc_id")
      .collect().map(_.toSeq).toSeq

    // batch replay of the same greedy-sequential policy
    var accAnch: Option[org.apache.spark.sql.DataFrame] = None
    val want = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    for (s <- slices) {
      val anch = Dedup.anchorFrame(s)
      val fromCorpus = accAnch.map(Dedup.crossSubstringDups(_, anch))
      val inner = Dedup.substringDupsFromAnchors(anch)
      val ext = fromCorpus.map(_.unionByName(inner)).getOrElse(inner)
      val stats = Dedup.substringDupStatsFrom(s, ext)
      val verdicts = s.select("doc_id")
        .join(stats.select(col("doc_id"), col("dup_frac"), col("dropped")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("dup_frac"), lit(0.0)).as("dup_frac"),
          (!coalesce(col("dropped"), lit(false))).as("accepted"))
      want ++= verdicts.collect().map(_.toSeq)
      val acc = anch.join(verdicts.where(col("accepted")).select("doc_id"), "doc_id")
      accAnch = Some(accAnch.map(_.unionByName(acc)).getOrElse(acc)
        .localCheckpoint(true))
    }
    val wantSorted = want.sortBy(_(0).asInstanceOf[Long]).toSeq
    assert(got.nonEmpty && got === wantSorted,
      "streaming substring screen diverges from the batch replay")
    // non-vacuity: rejections exist, and slice 2 saw nonzero coverage
    // against the accepted slice-1 corpus (the incremental path)
    assert(got.exists(r => !r(2).asInstanceOf[Boolean]),
      "nothing rejected; test is vacuous")
    assert(got.exists(r => r(0).asInstanceOf[Long] >= cut &&
      r(1).asInstanceOf[Double] > 0.0),
      "no slice-2 doc matched the accepted corpus; incremental path untested")
  }

  test("streaming resume: a second AvailableNow run over the same checkpoint reprocesses nothing") {
    val source = tmp("stream-src2")
    writeTimeSlicedSource(source, 2)
    val root = tmp("stream-store2").toString
    val store = new IndexStore(spark, root)
    val cdc = new StreamingCdc(store, new WatermarkStore(root))
    val first = cdc.syncAvailable(spark, source.toString, Seq("click"), "t1")
    assert(first >= 2)
    val countAfterFirst = store.count("click")
    // same checkpoint dir → offsets already committed → no new batches
    val second = cdc.syncAvailable(spark, source.toString, Seq("click"), "t1")
    assert(second === 0L, "checkpointed offsets must prevent reprocessing")
    assert(store.count("click") === countAfterFirst)
  }

  test("streaming partial sync never advances other indexes' watermarks (no silent skips)") {
    val source = tmp("stream-src7")
    writeTimeSlicedSource(source, 2)
    val root = tmp("stream-store7").toString
    val store = new IndexStore(spark, root)
    val wms = new WatermarkStore(root)
    val cdc = new StreamingCdc(store, wms)
    // stream ONLY 'click'; 'view' rows exist in the same source
    cdc.syncAvailable(spark, source.toString, Seq("click"), "t1")
    assert(wms.loadOrEpoch("view") === wms.Epoch,
      "a partial streaming sync must not advance view's watermark")
    // 'view' can still catch up completely afterwards
    cdc.syncAvailable(spark, source.toString, Seq("view"), "t2")
    val env = Tables.envelope(Tables.normalizeTs(spark.read.parquet(source.toString)))
    val expect = env.where(col(Idx) === "view" && !col(IsDeleted))
      .select(Id).distinct().count()
    assert(store.count("view") === expect, "view's earlier changes were skipped")
  }

  test("a file landing mid-run never advances the watermark past unprocessed data") {
    val source = tmp("stream-src8")
    writeTimeSlicedSource(source, 3)
    // sideline the NEWEST slice; it will "land" while the stream runs
    val late = tmp("stream-late").resolve("slice_002.parquet")
    Files.move(source.resolve("slice_002.parquet"), late)

    val root = tmp("stream-store8").toString
    val store = new IndexStore(spark, root)
    val wms = new WatermarkStore(root)
    @volatile var injected = false
    val cdc = new StreamingCdc(store, wms) {
      override protected def onBatchProcessed(batchId: Long): Unit =
        if (!injected) {
          // AvailableNow latched its end offset at start: this file is
          // visible in the dir but NOT processed by the running query
          Files.copy(late, source.resolve("slice_002.parquet"))
          injected = true
        }
    }
    cdc.syncAvailable(spark, source.toString, Seq("click"), "t1")
    assert(injected, "late file was never injected; test is vacuous")

    // the watermark must reflect only PROCESSED slices (0,1), never the
    // late file's newer events
    val lateMin = Tables.envelope(Tables.normalizeTs(spark.read.parquet(late.toString)))
      .where(col(Idx) === "click")
      .agg(date_format(min(col(UpdatedAt)), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .collect()(0).getString(0)
    assert(lateMin != null, "late slice has no click rows; test is vacuous")
    assert(wms.loadOrEpoch("click") <= lateMin,
      s"watermark ${wms.loadOrEpoch("click")} advanced past unprocessed data at $lateMin")

    // a catch-up run must merge the late file completely — no silent loss
    cdc.syncAvailable(spark, source.toString, Seq("click"), "t2")
    val want = Tables.envelope(Tables.normalizeTs(spark.read.parquet(source.toString)))
      .where(col(Idx) === "click" && !col(IsDeleted))
      .select(Id).distinct().count()
    assert(store.count("click") === want, "late-landing rows were skipped")
  }

  test("streaming CDC merges in place at the index's bucket count and matches the CDC merge over the bootstrap") {
    val source = tmp("stream-src6")
    writeTimeSlicedSource(source, 3)
    val indexes = Seq("click", "view")
    val env = Tables.envelope(Tables.normalizeTs(spark.read.parquet(source.toString)))
    val bootstrap = env.where(col(UpdatedAt) < lit("2024-01-10 00:00:00").cast("timestamp"))

    // bucketed in-place streaming
    val rootB = tmp("stream-bstore").toString
    val storeB = new IndexStore(spark, rootB)
    val wmsB = new WatermarkStore(rootB)
    new SyncPipeline(storeB, wmsB)
      .fullSyncBucketed(bootstrap, Some(indexes), timestamp = "t0", buckets = 8)
    val physBefore = indexes.map(i => i -> storeB.aliases()(i)).toMap
    val wms = indexes.map(i => i -> wmsB.loadOrEpoch(i)).toMap
    val cdc = new StreamingCdc(storeB, wmsB)
    assert(cdc.syncAvailable(spark, source.toString, indexes, "t1") >= 3)
    // in place: the physical index name never changed (no blue/green swap)
    indexes.foreach(i => assert(storeB.aliases()(i) === physBefore(i)))
    indexes.foreach(i => assert(storeB.bucketCountOf(physBefore(i)) === Some(8)))

    // the truth: the pure CDC merge of the streamed rows over the bootstrap scan
    indexes.foreach { idx =>
      val a = IndexerOps.cdcMerge(IndexerOps.fullSyncScan(bootstrap, Seq(idx)),
          IndexerOps.incrementalScan(env, Seq(idx), wms(idx)))
        .select(Id, Document).orderBy(Id).collect()
      val b = storeB.read(idx).get.select(Id, Document).orderBy(Id).collect()
      assert(a.sameElements(b), s"bucketed streaming state differs for $idx")
    }
  }

  test("streaming failure recovery: a failed micro-batch replays from the checkpoint, idempotently") {
    val source = tmp("stream-src5")
    writeTimeSlicedSource(source, 3)
    val root = tmp("stream-store5").toString
    // store whose in-place write fails once, mid-run, on the SECOND batch
    var failuresLeft = 1
    var writes = 0
    val flaky = new IndexStore(spark, root) {
      override def replaceBuckets(name: String, df: DataFrame, affected: Seq[Long]): Unit = {
        writes += 1
        if (writes > 1 && failuresLeft > 0) { failuresLeft -= 1; sys.error("sink outage") }
        super.replaceBuckets(name, df, affected)
      }
    }
    val cdc = new StreamingCdc(flaky, new WatermarkStore(root))
    intercept[Exception] {
      cdc.syncAvailable(spark, source.toString, Seq("click"), "t1")
    }
    // resume: same checkpoint → only unfinished batches replay; the
    // id-keyed merge makes the partial batch idempotent
    assert(failuresLeft === 0, "the fault never fired; test is vacuous")
    cdc.syncAvailable(spark, source.toString, Seq("click"), "t1")
    val want = Tables.envelope(Tables.normalizeTs(spark.read.parquet(source.toString)))
      .where(col(Idx) === "click" && !col(IsDeleted))
      .select(Id).distinct().count()
    assert(flaky.count("click") === want, "post-recovery state must equal a clean run")
  }

  test("streaming dedup: dropDuplicatesWithinWatermark collapses cross-batch replays") {
    val source = tmp("stream-src4")
    writeTimeSlicedSource(source, 2)
    // replay the same two slices again — a CDC feed redelivering
    Files.list(source).iterator().asScala.toList.foreach { p =>
      Files.copy(p, source.resolve("replay_" + p.getFileName.toString))
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(source.toString).schema
    val stream = Tables.normalizeTs(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(source.toString))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = stream.groupBy().count()
      .writeStream.format("memory").queryName("dedup_counts")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup_counts").collect()(0).getLong(0)
    val want = spark.read.parquet(source.toString)
      .select("event_id").distinct().count()
    assert(got === want, "replayed rows must dedup within the watermark")
  }

  test("watermarked streaming windowed count equals the batch tumbling aggregate") {
    val source = tmp("stream-src3")
    writeTimeSlicedSource(source, 2)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(source.toString).schema
    val stream = Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(source.toString))
    val agg = StreamingAgg.windowedCounts(stream, "ts", "event_type", "1 hour", "1 hour")
    val q = agg.writeStream
      .format("memory").queryName("win_counts").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("win_counts").orderBy("bucket", "event_type").collect().toSeq
    val want = Analytics.tumblingCounts(
      Tables.normalizeTs(spark.read.parquet(source.toString)), "ts", "hour", "event_type")
      .orderBy("bucket", "event_type").collect().toSeq
    assert(got === want)
  }

  test("streaming bloom screen: state is the accepted keys' filter, verdicts match a batch replay, geometry pinned") {
    import graft.operators.{Dedup, TextOps}
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    val cut = 250L
    // slice 2 RE-PRESENTS some slice-1 content under fresh ids (a
    // re-crawl): the fixture plants near-dups, not cross-id exact
    // dups, so the cross-batch path needs them planted
    val slices = Seq(docsAll.where(col("doc_id") < cut),
      docsAll.where(col("doc_id") >= cut)
        .unionByName(docsAll.where(col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))))
    val src = tmp("sbloom-src")
    slices.zipWithIndex.foreach { case (s, i) =>
      val stage = tmp(s"sbloom-slice$i")
      s.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, src.resolve(f"slice_$i%03d.parquet"))
    }
    val artDir = tmp("sbloom-art").toString
    val sb = new graft.streaming.StreamingBloom(artDir, tmp("sbloom-out").toString)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val batches = sb.screenAvailable(spark, stream, tmp("sbloom-ckpt").toString)
    assert(batches >= 2, s"expected one batch per slice, got $batches")
    val got = sb.verdicts(spark).get.orderBy("doc_id")
      .collect().map(_.toSeq).toSeq

    // batch replay of the same greedy-sequential policy, bloom verdicts
    // included (the screen is deterministic, so FPs replay identically)
    var acc: Option[DataFrame] = None
    var accFirst: Set[String] = Set.empty
    val want = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    for (s <- slices) {
      val keyed = s.select(col("doc_id"),
        md5(TextOps.normText(col("text"))).as("content_key"))
      val screened = acc match {
        case Some(keys) => Dedup.bloomScreen(keyed, Dedup.bloomBits(keys))
        case None => keyed.select(col("doc_id"), col("content_key"),
          lit(false).as("maybe_seen"))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("content_key").orderBy("doc_id")
      val verdicts = screened.withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("content_key"), col("maybe_seen"),
          (!col("maybe_seen") && col("rn") === 1).as("accepted")).cache()
      want ++= verdicts.collect().map(_.toSeq)
      val newKeys = verdicts.where(col("accepted")).select("content_key")
      acc = Some(acc.map(_.unionByName(newKeys)).getOrElse(newKeys).cache())
      if (accFirst.isEmpty)
        accFirst = newKeys.collect().map(_.getString(0)).toSet
    }
    assert(got.nonEmpty &&
      got === want.sortBy(_(0).asInstanceOf[Long]).toSeq,
      "streaming bloom end state diverges from the batch replay")
    // the filter guarantee, asserted directly on the streamed verdicts:
    // every slice-2 doc whose key was accepted by slice 1 MUST be
    // flagged maybe_seen — no false negatives across batches, ever
    val fn = got.filter(r => r(0).asInstanceOf[Long] >= cut &&
      accFirst.contains(r(1).asInstanceOf[String]) &&
      !r(2).asInstanceOf[Boolean])
    assert(fn.isEmpty,
      s"bloom false negatives in streamed verdicts: ${fn.take(3)}")
    // and that check is non-vacuous: slice 2 re-sees slice-1 content
    assert(got.exists(r => r(0).asInstanceOf[Long] >= cut &&
      accFirst.contains(r(1).asInstanceOf[String])),
      "no slice-2 doc repeats slice-1 content; cross-batch path untested")
    // the state IS the accepted keys' filter, exactly
    val stateRows = sb.stateBits(spark).get.orderBy("word")
      .collect().map(_.toSeq).toSeq
    val wantBits = Dedup.bloomBits(acc.get.distinct()).orderBy("word")
      .collect().map(_.toSeq).toSeq
    assert(stateRows === wantBits,
      "streamed bloom state diverges from bloomBits over the accepted keys")
    // non-vacuity: something was rejected across batches
    assert(got.exists(r => r(2).asInstanceOf[Boolean]),
      "no cross-batch duplicate flagged; test is vacuous")
    // the maintenance stats over the streamed state: the cardinality
    // estimate tracks the accepted-key count, and a right-sized filter
    // is nowhere near the half-full rule
    val nAccepted = acc.get.distinct().count()
    val (bst, resize) = sb.stats(spark).get
    assert(math.abs(bst.estimatedKeys - nAccepted) <=
      math.max(0.1 * nAccepted, 3),
      s"streamed estimate ${bst.estimatedKeys} vs $nAccepted accepted keys")
    assert(!resize, s"right-sized streamed filter flagged for resize: $bst")
    // reopening under different geometry refuses (the pinned-constants
    // guard on the bloom axis)
    val e = intercept[IllegalArgumentException](
      new graft.streaming.StreamingBloom(artDir, tmp("sbloom-out2").toString,
        mbits = Dedup.BloomMBits * 2))
    assert(e.getMessage.contains("different bloom geometry"),
      s"wrong refusal message: ${e.getMessage}")
    // the half-full rule's executor: rebuild into doubled geometry from
    // the verdicts alone (the filter holds no keys; the verdicts do).
    // The inherited fold lands at gbatch=-1, so the new stream's batch
    // 0 already screens against the full history.
    val outDirN = tmp("sbloom-outN").toString
    val next = sb.rebuildInto(spark, tmp("sbloom-art2").toString,
      outDirN, newMbits = Dedup.BloomMBits * 2)
    val (bst2, resize2) = next.stats(spark).get
    assert(bst2.mbits == Dedup.BloomMBits * 2 && !resize2)
    assert(math.abs(bst2.estimatedKeys - nAccepted) <=
      math.max(0.1 * nAccepted, 3),
      s"rebuilt estimate ${bst2.estimatedKeys} vs $nAccepted")
    next.screenBatch(docsAll.where(col("doc_id") < 30), 0L)
    val reVerd = spark.read.parquet(outDirN)
      .where(col("gbatch") === 0).collect()
    assert(reVerd.length == 30 && reVerd.forall(_.getBoolean(2)),
      "rebuilt filter lost accepted history (batch 0 cannot see gbatch=-1)")
    // gen-2 → gen-3: the inherited VERDICT slice (not just the bits,
    // which are one-way) must carry gen-1's accepted keys through a
    // SECOND rebuild — dropping them here would re-accept a re-crawl
    // of gen-1 content as new
    val out3 = tmp("sbloom-out3").toString
    val next3 = next.rebuildInto(spark, tmp("sbloom-art3").toString, out3)
    next3.screenBatch(docsAll.where(col("doc_id") < 30), 0L)
    val gen3 = spark.read.parquet(out3)
      .where(col("gbatch") === 0).collect()
    assert(gen3.length == 30 && gen3.forall(_.getBoolean(2)),
      "second rebuild dropped gen-1 accepted history")
    // live targets refuse — re-screening into existing slices would
    // double-count (artifact) or overwrite (verdict) their history
    val e2 = intercept[IllegalArgumentException](
      sb.rebuildInto(spark, artDir, tmp("sbloom-outX").toString))
    assert(e2.getMessage.contains("fresh artifact dir"))
    val e3 = intercept[IllegalArgumentException](
      sb.rebuildInto(spark, tmp("sbloom-artY").toString, outDirN))
    assert(e3.getMessage.contains("fresh verdict dir"))
    // crash-retry: a rebuild that died between the verdict slice and
    // the bloom commit leaves gbatch=-1 in the OUT dir only — a rerun
    // must overwrite its own debris and complete, not refuse on it
    // (the bloom slice, moved into place LAST, is the commit point)
    val artR = tmp("sbloom-artR").toString
    val outR = tmp("sbloom-outR").toString
    sb.verdicts(spark).get.where(col("accepted"))
      .select(col("doc_id"), col("content_key"),
        lit(false).as("maybe_seen"), lit(true).as("accepted"))
      .write.parquet(s"$outR/gbatch=-1")
    val retried = sb.rebuildInto(spark, artR, outR)
    val (bstR, _) = retried.stats(spark).get
    assert(math.abs(bstR.estimatedKeys - nAccepted) <=
      math.max(0.1 * nAccepted, 3),
      s"retried rebuild estimate ${bstR.estimatedKeys} vs $nAccepted")
  }

  test("streaming counting bloom: deletes fold out, deleted content re-accepts, state equals the live set's frame") {
    import graft.operators.{Dedup, TextOps}
    import spark.implicits._
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    def keysOf(df: DataFrame) =
      df.select(md5(TextOps.normText(col("text"))).as("content_key"))
    def ins(df: DataFrame) = df.withColumn("op", lit("insert"))
    def del(df: DataFrame) = df.withColumn("op", lit("delete"))
    val artDir = tmp("scnt-art").toString
    val outDir = tmp("scnt-out").toString
    val scb = new graft.streaming.StreamingCountingBloom(artDir, outDir)
    val b0 = docsAll.where(col("doc_id") % 3 === 1)
    scb.screenBatch(ins(b0), 0)
    // a UNIQUE-text accepted doc to delete (shared texts legitimately
    // stay live through their other copy)
    val uniq = b0.groupBy(md5(TextOps.normText(col("text"))).as("k"))
      .agg(count(lit(1)).as("c"), min("doc_id").as("doc_id"))
      .where(col("c") === 1).orderBy("doc_id")
      .select("doc_id").limit(1).collect()(0).getLong(0)
    val uniqDoc = b0.where(col("doc_id") === uniq)
    // batch 1: delete it, plus an INVALID delete (never-inserted doc)
    val invalid = docsAll.where(col("doc_id") % 3 === 0)
      .orderBy("doc_id").limit(1)
    scb.screenBatch(del(uniqDoc).unionByName(del(invalid)), 1)
    val verdicts1 = scb.verdicts(spark).get
    val d1 = verdicts1.where(col("op") === "delete")
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(d1(uniq), "valid delete of accepted content not applied")
    val invId = invalid.collect()(0).getLong(0)
    assert(!d1(invId),
      "delete of never-inserted content applied — a blind decrement " +
        "voids the no-false-negative guarantee")
    // the deleted content re-presents and is RE-ACCEPTED — the verdict
    // the OR-fold bit stream structurally cannot produce; surviving
    // content keeps flagging
    val rePresent = uniqDoc
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val survive = b0.where(col("doc_id") =!= uniq).orderBy("doc_id")
      .limit(20)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    scb.screenBatch(ins(rePresent.unionByName(survive)), 2)
    val b2 = scb.verdicts(spark).get.where(col("doc_id") >= 1000000L)
      .collect().map(r => (r.getLong(0), r.getBoolean(3), r.getBoolean(4)))
    val re = b2.filter(_._1 < 2000000L)
    assert(re.length == 1 && !re(0)._2 && re(0)._3,
      s"deleted content not re-accepted: ${re.toSeq}")
    val sv = b2.filter(_._1 >= 2000000L)
    assert(sv.nonEmpty && sv.forall(_._2),
      "surviving content lost a position — over-decremented")
    // the folded state IS the live key set's counting frame, exactly
    // (multiplicity <= 1 by the accept policy)
    def tuples(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val live = scb.liveKeys(spark).get
    assert(tuples(scb.countingState(spark).get) ===
      tuples(Dedup.countingBloomBits(live)),
      "streamed counting state diverges from the live set's frame")
    // stats: EXACT live count (the counting family's no-inversion
    // claim holds streamed), and the fold-negative refusal fires on a
    // poisoned slice
    val (st, resize) = scb.stats(spark).get
    assert(st.estimatedKeys === live.count(), s"inexact: $st")
    assert(!resize)
    // same-batch insert+delete of ONE key: the delete needs the key
    // live BEFORE the batch, the insert needs it absent — here the key
    // is live (a surviving b0 doc), so the delete applies and the
    // insert is rejected; net: the key dies, then re-accepts in the
    // NEXT batch
    val both = b0.where(col("doc_id") =!= uniq)
      .groupBy(md5(TextOps.normText(col("text"))).as("k"))
      .agg(count(lit(1)).as("c"), min("doc_id").as("doc_id"))
      .where(col("c") === 1).orderBy("doc_id")
      .select("doc_id").limit(1).collect()(0).getLong(0)
    val bothDoc = b0.where(col("doc_id") === both)
    scb.screenBatch(
      ins(bothDoc.select((col("doc_id") + 3000000L).as("doc_id"),
        col("text"))).unionByName(del(bothDoc)), 3)
    val b3 = spark.read.parquet(outDir).where(col("gbatch") === 3)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getBoolean(4)))
      .toSet
    assert(b3 === Set((both, "delete", true),
        (both + 3000000L, "insert", false)),
      s"same-batch insert+delete resolved wrong: $b3")
    scb.screenBatch(ins(bothDoc.select(
      (col("doc_id") + 4000000L).as("doc_id"), col("text"))), 4)
    val b4 = scb.verdicts(spark).get
      .where(col("doc_id") === both + 4000000L).collect()
    assert(b4.length == 1 && b4(0).getBoolean(4),
      "key deleted in batch 3 not re-accepted in batch 4")
    // geometry pin: reopening under different knobs refuses
    val e = intercept[IllegalArgumentException](
      new graft.streaming.StreamingCountingBloom(artDir,
        tmp("scnt-out2").toString, mbits = Dedup.BloomMBits * 2))
    assert(e.getMessage.contains("counting bloom geometry"))
    // resize: fold the LIVE keys (deletes already left the record)
    // into doubled geometry; the new gen screens the full history and
    // deletes of inherited content still apply
    val next = scb.rebuildInto(spark, tmp("scnt-art2").toString,
      tmp("scnt-outN").toString, newMbits = Dedup.BloomMBits * 2)
    assert(tuples(next.countingState(spark).get) ===
      tuples(Dedup.countingBloomBits(live,
        mbits = Dedup.BloomMBits * 2)),
      "rebuilt counting state diverges from the live set at new geometry")
    val keep = b0.where(col("doc_id") =!= uniq &&
        col("doc_id") =!= both).orderBy("doc_id").limit(5)
    next.screenBatch(ins(keep.select(
      (col("doc_id") + 5000000L).as("doc_id"), col("text"))), 0)
    val g2 = next.verdicts(spark).get
      .where(col("doc_id") >= 5000000L).collect()
    assert(g2.nonEmpty && g2.forall(_.getBoolean(3)),
      "rebuilt filter lost live history (batch 0 cannot see gbatch=-1)")
    // live targets refuse (the fresh-dir convention)
    val e2 = intercept[IllegalArgumentException](
      scb.rebuildInto(spark, artDir, tmp("scnt-outX").toString))
    assert(e2.getMessage.contains("fresh artifact dir"))
    // corruption refusal: a hand-poisoned slice folding a position
    // negative fails stats LOUDLY (the guarantee is void, not degraded)
    Seq((0L, -99L)).toDF("pos", "cnt").write
      .parquet(s"$artDir/counts/gbatch=99")
    assertThrows[IllegalArgumentException](scb.stats(spark))
  }

  test("sharded streamed counting bloom: delete/re-accept holds at (shard,pos); flat chain migrates into shards online") {
    import graft.operators.{Dedup, TextOps}
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    def ins(df: DataFrame) = df.withColumn("op", lit("insert"))
    def del(df: DataFrame) = df.withColumn("op", lit("delete"))
    val mb = 1 << 14
    val artS = tmp("sscnt-art").toString
    val scb = new graft.streaming.StreamingCountingBloom(
      artS, tmp("sscnt-out").toString, mbits = mb, shards = 4)
    val b0 = docsAll.where(col("doc_id") % 3 === 1)
    scb.screenBatch(ins(b0), 0)
    val uniq = b0.groupBy(md5(TextOps.normText(col("text"))).as("k"))
      .agg(count(lit(1)).as("c"), min("doc_id").as("doc_id"))
      .where(col("c") === 1).orderBy("doc_id")
      .select("doc_id").limit(1).collect()(0).getLong(0)
    scb.screenBatch(del(b0.where(col("doc_id") === uniq)), 1)
    // deleted content re-accepts; survivors keep flagging — the x106
    // contract, positions now keyed (shard, pos)
    val uniqDoc = b0.where(col("doc_id") === uniq)
    scb.screenBatch(ins(
      uniqDoc.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(b0.where(col("doc_id") =!= uniq).orderBy("doc_id")
          .limit(20).select((col("doc_id") + 2000000L).as("doc_id"),
            col("text")))), 2)
    val v2 = scb.verdicts(spark).get.where(col("doc_id") >= 1000000L)
      .collect().map(r => (r.getLong(0), r.getBoolean(3), r.getBoolean(4)))
    val re = v2.filter(_._1 < 2000000L)
    assert(re.length == 1 && !re(0)._2 && re(0)._3,
      "sharded chain did not re-accept deleted content")
    assert(v2.filter(_._1 >= 2000000L).forall(_._2),
      "sharded chain lost a surviving position")
    // folded state ≡ the live set's SHARDED frame, row for row
    def triples(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val live = scb.liveKeys(spark).get
    assert(triples(scb.countingState(spark).get) ===
      triples(Dedup.shardedCountingBloomBits(live, 4, mb)),
      "sharded streamed state diverges from the live set's frame")
    // stats stay EXACT at shards (Σcnt = khash·live over all shards)
    val (st, _) = scb.stats(spark).get
    assert(st.estimatedKeys === live.count())
    // reopening at a different shard count refuses (relocated routing
    // would SUM incompatible generations) — and so does a FLAT reopen
    // of a sharded artifact (the asymmetric digest part)
    val e = intercept[IllegalArgumentException](
      new graft.streaming.StreamingCountingBloom(
        artS, tmp("sscnt-out2").toString, mbits = mb, shards = 2))
    assert(e.getMessage.contains("counting bloom geometry"))
    val e1 = intercept[IllegalArgumentException](
      new graft.streaming.StreamingCountingBloom(
        artS, tmp("sscnt-out3").toString, mbits = mb))
    assert(e1.getMessage.contains("counting bloom geometry"))
    // ---- the SCALE MIGRATION: a FLAT chain outgrowing its position
    // space folds its live keys into a sharded generation online —
    // the batch family's ceiling fix, reachable from a running stream
    // non-default operating knobs (budget 3, eager grace): the
    // migration must INHERIT them, pinned below by the migrated
    // generation compacting at the inherited cadence
    val flat = new graft.streaming.StreamingCountingBloom(
      tmp("sscntF-art").toString, tmp("sscntF-out").toString, mbits = mb,
      maxLiveSlices = 3, compactionGraceMs = 0L)
    flat.screenBatch(ins(b0), 0)
    flat.screenBatch(del(b0.where(col("doc_id") === uniq)), 1)
    val artM = tmp("sscntM-art").toString
    val migrated = flat.rebuildInto(spark, artM,
      tmp("sscntM-out").toString, newMbits = mb, newShards = 4)
    val flatLive = flat.liveKeys(spark).get
    assert(triples(migrated.countingState(spark).get) ===
      triples(Dedup.shardedCountingBloomBits(flatLive, 4, mb)),
      "flat→sharded migration diverges from the live set's sharded frame")
    // the migrated generation screens its inherited history (batch 0
    // sees gbatch=-1) and re-accepts the pre-migration delete
    migrated.screenBatch(ins(
      b0.where(col("doc_id") =!= uniq).orderBy("doc_id").limit(10)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
        .unionByName(uniqDoc.select((col("doc_id") + 4000000L)
          .as("doc_id"), col("text")))), 0)
    val g2 = migrated.verdicts(spark).get
      .where(col("doc_id") >= 3000000L).collect()
      .map(r => (r.getLong(0), r.getBoolean(3), r.getBoolean(4)))
    assert(g2.filter(_._1 < 4000000L).forall(_._2),
      "migrated sharded filter lost inherited live history")
    val reM = g2.filter(_._1 >= 4000000L)
    assert(reM.length == 1 && !reM(0)._2 && reM(0)._3,
      "migrated sharded filter resurrected a pre-migration delete")
    // knob inheritance, observable: the migrated chain compacts at the
    // INHERITED budget-3 cadence (default 16 would never trigger at
    // this batch count)
    (1 to 5).foreach(i => migrated.screenBatch(ins(
      b0.where(col("doc_id") % 5 === i % 5).orderBy("doc_id").limit(5)
        .select((col("doc_id") + (5000000L * i)).as("doc_id"),
          col("text"))), i.toLong))
    assert(new java.io.File(s"$artM/counts/_COMPACT").isFile,
      "migrated chain lost its inherited compaction knobs")
    val (stM, _) = migrated.stats(spark).get
    assert(stM.estimatedKeys === migrated.liveKeys(spark).get.count(),
      "post-compaction sharded stats lost exactness")
  }

  test("streaming bloom chains: slice compaction bounds per-batch reads; state, verdicts and replay unchanged") {
    import graft.operators.{Dedup, TextOps}
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    def ins(df: DataFrame) = df.withColumn("op", lit("insert"))
    def del(df: DataFrame) = df.withColumn("op", lit("delete"))
    def gbatches(root: String): Seq[String] =
      Option(new java.io.File(root).listFiles()).getOrElse(Array())
        .map(_.getName).filter(_.startsWith("gbatch=")).toSeq
    // ---- counting chain: a compacting instance (budget 3, eager
    // grace) against an uncompacted twin fed the SAME batches
    val artA = tmp("cmpA-art").toString
    val a = new graft.streaming.StreamingCountingBloom(
      artA, tmp("cmpA-out").toString,
      maxLiveSlices = 3, compactionGraceMs = 0L)
    val b = new graft.streaming.StreamingCountingBloom(
      tmp("cmpB-art").toString, tmp("cmpB-out").toString)
    // a stranded orphan generation (crash between a prior compaction's
    // write and its pointer swap) must be healed by the structural
    // garbage sweep, not leak forever
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(artA, "counts", ".gen_0_0_0"))
    val slices = (0 until 8).map(i =>
      docsAll.where(col("doc_id") % 8 === i))
    def batchOf(i: Int): DataFrame =
      if (i < 6) ins(slices(i))
      // batches 6-7 delete a prefix of earlier-accepted content (by
      // re-presenting the docs as delete ops; non-live keys record
      // applied = false harmlessly)
      else del(slices(i - 6).orderBy("doc_id").limit(15))
    (0 until 8).foreach { i =>
      val df = batchOf(i)
      a.screenBatch(df, i.toLong); b.screenBatch(df, i.toLong)
    }
    // the budget held: live slices bounded, a pointed base exists, and
    // the stale sweep (grace 0) reclaimed the absorbed slice dirs
    assert(gbatches(s"$artA/counts").size <= 4,
      s"live counting slices unbounded: ${gbatches(s"$artA/counts")}")
    assert(gbatches(s"$artA/keys").size <= 4,
      s"live key slices unbounded: ${gbatches(s"$artA/keys")}")
    assert(new java.io.File(s"$artA/counts/_COMPACT").isFile,
      "no pointed compacted generation")
    assert(!new java.io.File(s"$artA/counts/.gen_0_0_0").exists(),
      "orphan (never-pointed) generation was not healed")
    // end state, verdicts and stats are EXACTLY the uncompacted twin's
    def cntTuples(o: Option[DataFrame]) = o.get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def verd(s: graft.streaming.StreamingCountingBloom) =
      s.verdicts(spark).get.collect()
        .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3),
          r.getBoolean(4))).toSet
    assert(cntTuples(a.countingState(spark)) ===
      cntTuples(b.countingState(spark)),
      "compacted counting state diverges from the uncompacted fold")
    assert(verd(a) === verd(b), "compaction changed verdicts")
    assert(a.stats(spark).get === b.stats(spark).get)
    // live keys fold identically (the rebuild source)
    def keys(s: graft.streaming.StreamingCountingBloom) =
      s.liveKeys(spark).get.collect().map(_.getString(0)).toSet
    assert(keys(a) === keys(b))
    // ---- trigger meters UN-ABSORBED slices: with the DEFAULT grace
    // (absorbed dirs linger on disk) a budget-3 chain over 8 batches
    // must compact at its budget cadence (twice), not every batch —
    // counting raw dirs would fold the full state per batch
    val artE = tmp("cmpE-art").toString
    val e2 = new graft.streaming.StreamingCountingBloom(
      artE, tmp("cmpE-out").toString, maxLiveSlices = 3)
    (0 until 8).foreach(i => e2.screenBatch(batchOf(i), i.toLong))
    val gens = Option(new java.io.File(s"$artE/counts").listFiles())
      .getOrElse(Array()).count(_.getName.startsWith(".gen_"))
    assert(gens <= 2,
      s"$gens generations for 8 batches at budget 3 — the trigger is " +
        "re-firing on absorbed-but-unswept slice dirs")
    assert(cntTuples(e2.countingState(spark)) ===
      cntTuples(b.countingState(spark)))
    // checkpoint replay of the NEWEST batch (the only replayable one)
    // re-screens against exactly its original pre-batch view
    val before = verd(a)
    a.screenBatch(batchOf(7), 7L)
    assert(verd(a) === before, "replay after compaction not idempotent")
    // a replay view at or below the compaction high-water REFUSES
    // loudly instead of silently double-counting absorbed evidence
    val e = intercept[IllegalArgumentException](
      a.countingState(spark, before = Some(1L)).get.collect())
    assert(e.getMessage.contains("high-water"))
    // ---- bit chain: same budget contract over the OR-fold
    val artC = tmp("cmpC-art").toString
    val ba = new graft.streaming.StreamingBloom(
      artC, tmp("cmpC-out").toString,
      maxLiveSlices = 3, compactionGraceMs = 0L)
    val bb = new graft.streaming.StreamingBloom(
      tmp("cmpD-art").toString, tmp("cmpD-out").toString)
    (0 until 6).foreach { i =>
      ba.screenBatch(slices(i), i.toLong)
      bb.screenBatch(slices(i), i.toLong)
    }
    assert(gbatches(s"$artC/bloom").size <= 4,
      s"live bloom slices unbounded: ${gbatches(s"$artC/bloom")}")
    def bits(s: graft.streaming.StreamingBloom) =
      s.stateBits(spark).get.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bits(ba) === bits(bb),
      "compacted bloom state diverges from the uncompacted fold")
    def bverd(s: graft.streaming.StreamingBloom) =
      s.verdicts(spark).get.collect()
        .map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3))).toSet
    assert(bverd(ba) === bverd(bb))
    val bBefore = bverd(ba)
    ba.screenBatch(slices(5), 5L)
    assert(bverd(ba) === bBefore,
      "bit-chain replay after compaction not idempotent")
  }

  test("streaming counting bloom: AvailableNow run, checkpoint restart reprocesses nothing, slices stay idempotent") {
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    // slice 0: inserts; slice 1: fresh inserts + deletes of slice-0
    // content — the mixed-op feed as a file stream
    val s0 = docsAll.where(col("doc_id") < 200)
      .withColumn("op", lit("insert"))
    val s1 = docsAll.where(col("doc_id") >= 200 && col("doc_id") < 400)
      .withColumn("op", lit("insert"))
      .unionByName(docsAll.where(col("doc_id") < 40)
        .withColumn("op", lit("delete")))
    val src = tmp("scntav-src")
    Seq(s0, s1).zipWithIndex.foreach { case (s, i) =>
      val stage = tmp(s"scntav-slice$i")
      s.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, src.resolve(f"slice_$i%03d.parquet"))
    }
    val scb = new graft.streaming.StreamingCountingBloom(
      tmp("scntav-art").toString, tmp("scntav-out").toString)
    val schema = spark.read.parquet(src.toString).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val ckpt = tmp("scntav-ckpt").toString
    val ran = scb.screenAvailable(spark, stream, ckpt)
    assert(ran >= 2, s"expected one batch per slice, got $ran")
    val before = scb.verdicts(spark).get.orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    // deletes landed: the folded state is the live set's frame, and
    // the deleted keys are out of it
    val live = scb.liveKeys(spark).get
    def tuples(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tuples(scb.countingState(spark).get) ===
      tuples(graft.operators.Dedup.countingBloomBits(live)))
    // restart on the same checkpoint: nothing reprocesses, verdicts
    // and state are byte-stable (the latest-wins slice idempotence)
    val ran2 = scb.screenAvailable(spark, stream, ckpt)
    assert(ran2 == 0, s"restart reprocessed $ran2 batches")
    assert(scb.verdicts(spark).get.orderBy("doc_id")
      .collect().map(_.toSeq).toSeq === before)
  }
}
