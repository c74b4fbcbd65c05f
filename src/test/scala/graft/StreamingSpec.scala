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
class StreamingSpec extends AnyFunSuite with SparkSpec {

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

  test("streaming CDC (AvailableNow, multi-batch) ends in the state of the one-shot CDC merge") {
    val source = tmp("stream-src")
    writeTimeSlicedSource(source, 3)

    val indexes = Seq("click", "view", "purchase", "signup", "error")

    // streaming path
    val sRoot = tmp("stream-store").toString
    val sStore = new IndexStore(spark, sRoot)
    val sCdc = new StreamingCdc(sStore, new WatermarkStore(sRoot))
    val batches = sCdc.syncAvailable(spark, source.toString, indexes, "t1")
    assert(batches >= 3, s"expected >=3 micro-batches (one per file), got $batches")

    // the truth: the pure CDC merge of the same data over an empty state
    val env = Tables.envelope(Tables.normalizeTs(spark.read.parquet(source.toString)))
    indexes.foreach { idx =>
      val s = sStore.read(idx).map(_.select(Idx, Id, Document, IsDeleted)
        .orderBy(Id).collect().toSeq).getOrElse(Seq.empty)
      val b = IndexerOps.cdcMerge(IndexerOps.emptyEnvelope(spark), env.where(col(Idx) === idx))
        .select(Idx, Id, Document, IsDeleted).orderBy(Id).collect().toSeq
      assert(s === b, s"state mismatch for index $idx")
    }
  }

  test("stream-static enrichment end state equals the batch join (h10 twin)") {
    val source = tmp("enrich-src")
    writeTimeSlicedSource(source, 3)
    val schema = spark.read.parquet(source.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(source.toString)
    val customer = Tables.customer(spark, sf)
    val nation = Tables.nation(spark, sf)
    val q = graft.streaming.StreamingEnrich.enrichedCounts(stream, customer, nation)
      .writeStream.outputMode("complete").format("memory")
      .queryName("enrich_end").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("enrich_end").orderBy("n_name", "event_type")
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.Relational.eventEnrichment(
        spark.read.parquet(source.toString), customer, nation)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "enrichment produced no rows")
    assert(got === want, "streaming end state diverges from the batch join")
  }

  test("streaming CDC with validity: poison rows quarantine per batch, live state stays clean") {
    val source = tmp("stream-tol-src")
    writeTimeSlicedSource(source, 2)
    // a slice containing a NULL-id event (the envelope's poison row)
    val ev = Tables.events(spark, sf).orderBy(desc("ts")).limit(1)
      .select(lit(null).cast("long").as("event_id"), col("ts"), col("user_id"),
        lit("click").as("event_type"), col("value"), col("props"))
    val stage = tmp("poison-slice")
    ev.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, source.resolve("slice_zzz_poison.parquet"))

    val root = tmp("stream-tol-store").toString
    val store = new IndexStore(spark, root)
    val cdc = new StreamingCdc(store, new WatermarkStore(root),
      validity = Some(length(trim(col(Id))) > 0))
    cdc.syncAvailable(spark, source.toString, Seq("click"), "t1")
    // live state has every valid click id and no null/blank ids
    val live = store.read("click").get
    assert(live.where(col(Id).isNull || length(trim(col(Id))) === 0).count() === 0)
    val expect = Tables.envelope(Tables.normalizeTs(spark.read.parquet(source.toString)))
      .where(col(Idx) === "click" && col(Id).isNotNull && !col(IsDeleted))
      .select(Id).distinct().count()
    assert(store.count("click") === expect)
    // the poison row sits in the quarantine, tagged by micro-batch
    val q = store.rejected(store.aliases()("click")).get
    assert(q.count() === 1L && q.where(col(Id).isNull).count() === 1L)
  }

  test("one quarantine for both callers: a micro-batch and a batch round reject under the bound physical; a replayed micro-batch rewrites its own dir") {
    val source = tmp("stream-q-src")
    writeTimeSlicedSource(source, 2)
    val last = Tables.events(spark, sf).orderBy(desc("ts")).limit(1)
    /** Lands a file of one NULL-id (poison) and one new valid click,
      * `days` after the fixture's last event. */
    def land(name: String, days: Int, id: Long): Unit = {
      val stage = tmp("poison-slice")
      last.select(lit(null).cast("long").as("event_id"), col("ts"), col("user_id"),
          lit("click").as("event_type"), col("value"), col("props"))
        .unionByName(last.select(lit(id).as("event_id"), col("ts"), col("user_id"),
          lit("click").as("event_type"), col("value"), col("props")))
        .withColumn("ts", col("ts") + expr(s"INTERVAL $days DAYS"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      Files.copy(Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get, source.resolve(name))
    }
    land("slice_zzz_poison.parquet", 1, 990001L)

    val root = tmp("stream-q-store").toString
    // the in-place write fails once, after the poison batch quarantined
    var failuresLeft = 1
    val store = new IndexStore(spark, root) {
      override def replaceBuckets(name: String, df: DataFrame, affected: Seq[Long]): Unit = {
        if (failuresLeft > 0 && rejected(name).isDefined) { failuresLeft -= 1; sys.error("sink outage") }
        super.replaceBuckets(name, df, affected)
      }
    }
    val wms = new WatermarkStore(root)
    val valid = length(trim(col(Id))) > 0
    val cdc = new StreamingCdc(store, wms, validity = Some(valid))
    intercept[Exception](cdc.syncAvailable(spark, source.toString, Seq("click"), "t1"))
    assert(failuresLeft === 0, "the fault never fired; test is vacuous")
    cdc.syncAvailable(spark, source.toString, Seq("click"), "t1")
    val physical = store.aliases()("click")
    def batches(): Seq[String] = Files.list(java.nio.file.Paths.get(root, s"${store.RejectPrefix}$physical"))
      .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("gbatch=")).toSeq.sorted
    // the replay rewrote its own dir: one row, not two
    assert(store.rejected(physical).get.count() === 1L)
    assert(batches().size === 1 && batches().head.startsWith("gbatch=t1_b"), batches())

    // the batch round rejects into the same quarantine
    land("slice_zzz_poison2.parquet", 2, 990002L)
    val env = Tables.envelope(Tables.normalizeTs(spark.read.parquet(source.toString)))
    val r = new SyncPipeline(store, wms, validity = Some(valid))
      .incrementalSyncInPlace(env, Some(Seq("click")))
    assert(r.map(x => (x.mode, x.rejects)) === Seq(("incremental", 1L)))
    assert(store.aliases()("click") === physical)
    assert(store.rejectedIndexes() === Seq(physical))
    assert(store.rejected(physical).get.where(col(Id).isNull).count() === 2L)
    assert(batches().size === 2 && batches().exists(_.startsWith("gbatch=sync_")), batches())
    assert(store.read("click").get.where(col(Id).isin("990001", "990002")).count() === 2L)
  }

  test("map-only curation ops run unchanged on a documents stream (quality filter ≡ batch)") {
    import graft.operators.TextOps
    val src = tmp("docs-src")
    Tables.documents(spark, sf).coalesce(1).write.mode("overwrite").parquet(src.toString)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    // per-row expressions need no watermark/state: append mode, verbatim op
    val q = TextOps.qualityFilter(stream).writeStream
      .outputMode("append").format("memory").queryName("qf_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("qf_stream").orderBy("doc_id").collect().map(_.toSeq).toSeq
    val want = TextOps.qualityFilter(spark.read.parquet(src.toString))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got === want)
    // the MinHash signature kernel is map-only too: signatures computed
    // on the stream equal the batch artifact (incremental signature
    // maintenance for a growing corpus needs no new machinery)
    val q2 = graft.operators.Dedup.minHashSignaturesFrom(
        stream.select(col("doc_id"), TextOps.shingles(col("text")).as("sh")))
      .writeStream.outputMode("append").format("memory").queryName("sig_stream")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val gotSigs = spark.table("sig_stream").orderBy("doc_id").collect().map(_.toSeq).toSeq
    val wantSigs = graft.operators.Dedup.minHashSignatures(
        spark.read.parquet(src.toString))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(gotSigs === wantSigs)
  }

  test("stream-stream interval join end state equals the batch interval join (tw4 twin)") {
    val source = tmp("sjoin-src")
    writeTimeSlicedSource(source, 3)
    val schema = spark.read.parquet(source.toString).schema
    def stream(tpe: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(source.toString)
      .where(col("event_type") === tpe)
    val joined = graft.streaming.StreamingEnrich.intervalJoin(
      stream("click"), stream("purchase"), "1 HOUR")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("sjoin_end").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sjoin_end").orderBy("l_id", "r_id")
      .collect().map(_.toSeq).toSeq
    val ev = spark.read.parquet(source.toString)
    val want = Analytics.intervalJoin(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"), "1 HOUR")
      .orderBy("l_id", "r_id").collect().map(_.toSeq).toSeq
    assert(want.nonEmpty, "fixture has no click→purchase pairs; test is vacuous")
    assert(got === want, "stream-stream join end state diverges from batch")
  }

  test("stream-stream as-of join end state equals the batch as-of join (tw5 twin)") {
    val source = tmp("asof-src")
    writeTimeSlicedSource(source, 3)
    val schema = spark.read.parquet(source.toString).schema
    def stream(tpe: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(source.toString)
      .where(col("event_type") === tpe)
    // zero lateness: slices are time-ordered, so nothing is late and the
    // final watermark reaches the global max event time (ms floor)
    val q = graft.streaming.StatefulAsOf.asOf(
        spark, stream("purchase"), stream("click"), lateness = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_end").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("asof_end").orderBy("l_id")
      .collect().map(_.toSeq).toSeq
    // batch twin, restricted to the watermark-finalized prefix: left
    // events with ts <= max event ts (ms floor, the watermark's unit)
    val ev = spark.read.parquet(source.toString)
    val wmUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) / 1000L * 1000L
    val want = Analytics.asOfJoin(
        ev.where(col("event_type") === "purchase" &&
          unix_micros(col("ts")) <= wmUs),
        ev.where(col("event_type") === "click"))
      .orderBy("l_id").collect().map(_.toSeq).toSeq
    assert(want.nonEmpty, "fixture has no purchases; test is vacuous")
    assert(want.exists(_(2) != null), "no purchase has a prior click; test is vacuous")
    assert(got === want, "stream-stream as-of end state diverges from batch")
  }

  test("stateful as-of: state survives a checkpointed restart (dominant click carries over)") {
    val source = tmp("asof-src2")
    val staging = tmp("asof-stage")
    writeTimeSlicedSource(staging, 2)
    val slices = Files.list(staging).iterator().asScala.toList.sortBy(_.getFileName.toString)
    assert(slices.length === 2)
    val ckpt = tmp("asof-ckpt").toString
    val outDir = tmp("asof-out").toString
    val schema = spark.read.parquet(staging.toString).schema
    // parquet sink, not memory: the memory sink refuses checkpoint
    // recovery, and recovery is exactly what this test exercises
    def runOnce(): Unit = {
      def stream(tpe: String) = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(source.toString)
        .where(col("event_type") === tpe)
      val q = graft.streaming.StatefulAsOf.asOf(
          spark, stream("purchase"), stream("click"), lateness = "0 seconds")
        .writeStream.outputMode("append").format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1 sees only the first time slice; run 2 resumes the SAME
    // checkpoint after the second slice lands — its purchases must still
    // match clicks remembered from run 1's slice (the dominant-click
    // state), or resumed attribution silently degrades
    Files.copy(slices(0), source.resolve("slice_000.parquet"))
    runOnce()
    val run1Out = spark.read.parquet(outDir).collect().map(_.toSeq).toSet
    Files.copy(slices(1), source.resolve("slice_001.parquet"))
    runOnce()
    val got = spark.read.parquet(outDir).collect().map(_.toSeq).toSeq
      .sortBy(_(1).asInstanceOf[Long])
    val ev = spark.read.parquet(source.toString)
    val wmUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) / 1000L * 1000L
    val want = Analytics.asOfJoin(
        ev.where(col("event_type") === "purchase" && unix_micros(col("ts")) <= wmUs),
        ev.where(col("event_type") === "click"))
      .orderBy("l_id").collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(got === want, "resumed as-of state diverges from batch")
    // non-vacuity: some run-2 purchase must have matched a run-1 click
    val run1MaxClick = spark.read.parquet(slices(0).toString)
      .where(col("event_type") === "click")
      .agg(max("event_id")).collect()(0).getLong(0)
    val run2Rows = got.filterNot(run1Out)
    assert(run2Rows.exists(r => r(2) != null &&
      r(2).asInstanceOf[Long] <= run1MaxClick),
      "no run-2 purchase used run-1 click state; resume test is vacuous")
  }

  test("streaming lexical index: artifact-served BM25 equals the batch build, replay-safe") {
    import graft.operators.TextOps
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    val cut = 250L
    val slices = Seq(docsAll.where(col("doc_id") < cut),
      docsAll.where(col("doc_id") >= cut))
    val src = tmp("slex-src")
    slices.zipWithIndex.foreach { case (s, i) =>
      val stage = tmp(s"slex-slice$i")
      s.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, src.resolve(f"slice_$i%03d.parquet"))
    }
    val queries = Seq(0L -> Seq("spark", "join"), 1L -> Seq("vector", "table"))
    val sl = new graft.streaming.StreamingLexical(tmp("slex-art").toString)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val batches = sl.indexAvailable(spark, stream, tmp("slex-ckpt").toString)
    assert(batches >= 2, s"expected one batch per slice, got $batches")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rn").collect().map(_.toSeq).toSeq
    val got = rows(sl.topK(spark, queries, 5).get)
    val want = rows(TextOps.bm25TopK(docsAll, queries, 5))
    assert(want.nonEmpty, "batch reference empty; test is vacuous")
    assert(got === want, "artifact-served ranking diverges from the batch build")
    // a checkpoint replay rewrites its slice instead of double-counting
    sl.indexBatch(slices(1), 1)
    assert(rows(sl.topK(spark, queries, 5).get) === want,
      "lexical index diverged after batch replay")
    // the corpus-level stats really are serve-time-derived: indexing one
    // more slice shifts df/avgdl for already-indexed docs too
    val extra = docsAll.limit(0)
    sl.indexBatch(extra, 2) // empty slice: a no-op batch must not corrupt
    assert(rows(sl.topK(spark, queries, 5).get) === want)

    // the chunk-level frames ride the same slices: the streamed RAG
    // serve equals the batch chunk build over the concatenated corpus
    val wantChunk = rows(TextOps.bm25ChunkTopK(docsAll, queries, 5))
    assert(wantChunk.nonEmpty, "chunk reference empty; test is vacuous")
    assert(rows(sl.chunkTopK(spark, queries, 5).get) === wantChunk,
      "streamed chunk ranking diverges from the batch chunk build")
  }

  test("streaming vector index: ADC serve from code artifact equals the batch build, replay-safe") {
    import graft.operators.VectorOps
    val embAll = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val books = VectorOps.pqTrainedCodebooks(embAll)
    val cut = 250L
    val slices = Seq(embAll.where(col("vec_id") < cut),
      embAll.where(col("vec_id") >= cut))
    // through the real file-stream path: one micro-batch per slice file
    val src = tmp("svec-src")
    slices.zipWithIndex.foreach { case (s, i) =>
      val stage = tmp(s"svec-slice$i")
      s.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, src.resolve(f"slice_$i%03d.parquet"))
    }
    val sv = new graft.streaming.StreamingVectorIndex(
      tmp("svec-art").toString, books)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val batches = sv.indexAvailable(spark, stream, tmp("svec-ckpt").toString)
    assert(batches >= 2, s"expected one batch per slice, got $batches")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rn").collect().map(_.toSeq).toSeq
    val queryIds = Seq(0L, 1L, 2L)
    val got = rows(sv.topK(spark, queryIds, 5).get)
    val want = rows(VectorOps.pqTopK(embAll, queryIds, 5, Some(books)))
    assert(want.nonEmpty, "batch ADC reference empty; test is vacuous")
    assert(got === want, "artifact-served ADC diverges from the batch build")
    // replay rewrites the slice instead of double-counting
    sv.indexBatch(slices(1), 1)
    assert(rows(sv.topK(spark, queryIds, 5).get) === want,
      "vector index diverged after batch replay")

    // the full crawl-time hybrid: lexical artifact + dense artifact,
    // fused through the same batch scoring paths
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    val sl = new graft.streaming.StreamingLexical(tmp("svec-lex").toString)
    sl.indexBatch(docsAll.where(col("doc_id") < cut), 0)
    sl.indexBatch(docsAll.where(col("doc_id") >= cut), 1)
    val (tf, dl) = sl.artifact(spark).get
    val (embArt, _) = sv.artifact(spark).get
    val queries = Seq(0L -> Seq("spark", "join"), 1L -> Seq("vector", "table"))
    val hybridGot = rows(graft.operators.HybridOps
      .hybridTopKFrom(tf, dl, embArt, queries, 5))
    val hybridWant = rows(graft.operators.HybridOps
      .hybridTopK(docsAll, embAll, queries, 5))
    assert(hybridWant.nonEmpty)
    assert(hybridGot === hybridWant,
      "hybrid over streaming artifacts diverges from the batch hybrid")
  }

  test("streaming retrieval artifacts honor upserts and tombstones: serve equals the batch build over the live corpus") {
    import graft.operators.{HybridOps, TextOps, VectorOps}
    val fn = org.apache.spark.sql.functions
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    val embAll = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val books = VectorOps.pqTrainedCodebooks(embAll)
    // the crawl's second pass re-fetches docs 0-49 with NEW content and
    // new embeddings; the third pass tombstones docs 100-149 (their
    // payload is nonsense on purpose — a tombstone's payload must be
    // ignored). Docs 400+ never arrive.
    val recrawlDocs = docsAll.where(col("doc_id") < 50)
      .withColumn("text", concat(col("text"), lit(" freshly recrawled words")))
    val reembed = embAll.where(col("vec_id") < 50)
      .withColumn("embedding",
        fn.transform(col("embedding"), x => -x))
    val docSlices = Seq(
      docsAll.where(col("doc_id") < 200).withColumn("is_deleted", lit(false)),
      docsAll.where(col("doc_id") >= 200 && col("doc_id") < 400)
        .unionByName(recrawlDocs).withColumn("is_deleted", lit(false)),
      docsAll.where(col("doc_id") >= 100 && col("doc_id") < 150)
        .withColumn("text", lit("tombstone payload must be ignored"))
        .withColumn("is_deleted", lit(true)))
    val embSlices = Seq(
      embAll.where(col("vec_id") < 200).withColumn("is_deleted", lit(false)),
      embAll.where(col("vec_id") >= 200 && col("vec_id") < 400)
        .unionByName(reembed).withColumn("is_deleted", lit(false)),
      embAll.where(col("vec_id") >= 100 && col("vec_id") < 150)
        .withColumn("is_deleted", lit(true)))
    // the surviving corpus the serve must reflect
    val liveDocs = recrawlDocs
      .unionByName(docsAll.where(col("doc_id") >= 50 && col("doc_id") < 100))
      .unionByName(docsAll.where(col("doc_id") >= 150 && col("doc_id") < 400))
    val liveEmb = reembed
      .unionByName(embAll.where(col("vec_id") >= 50 && col("vec_id") < 100))
      .unionByName(embAll.where(col("vec_id") >= 150 && col("vec_id") < 400))

    def stage(prefix: String, slices: Seq[DataFrame]): Path = {
      val src = tmp(prefix)
      slices.zipWithIndex.foreach { case (s, i) =>
        val st = tmp(s"$prefix-slice$i")
        s.coalesce(1).write.mode("overwrite").parquet(st.toString)
        val part = Files.list(st).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val dst = Files.copy(part, src.resolve(f"slice_$i%03d.parquet"))
        // batch order IS the upsert order: force strictly increasing
        // mtimes so FileStreamSource assigns slice i to batch i
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - (slices.size - i) * 10000L))
      }
      src
    }
    def rows(df: DataFrame) =
      df.orderBy("query_id", "rn").collect().map(_.toSeq).toSeq

    // lexical, through the real file-stream path (one batch per file;
    // FileStreamSource's (timestamp, path) order makes slice_002 the
    // last batch, so the tombstones are the latest record)
    val docSrc = stage("uplex-src", docSlices)
    val sl = new graft.streaming.StreamingLexical(tmp("uplex-art").toString)
    val docSchema = spark.read.parquet(docSrc.toString).schema
    val docStream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(docSrc.toString)
    assert(sl.indexAvailable(spark, docStream, tmp("uplex-ckpt").toString) >= 3)
    val queries = Seq(0L -> Seq("spark", "join"), 1L -> Seq("recrawled", "words"))
    val lexGot = rows(sl.topK(spark, queries, 5).get)
    val lexWant = rows(TextOps.bm25TopK(liveDocs, queries, 5))
    assert(lexWant.nonEmpty, "live-corpus lexical reference empty; test is vacuous")
    assert(lexGot === lexWant,
      "artifact-served BM25 diverges from the batch build over the live corpus")
    // non-vacuity: the naive append-only union would NOT match — the
    // re-crawl really changed the corpus-level stats
    val staleWant = rows(TextOps.bm25TopK(
      docsAll.where(col("doc_id") < 400), queries, 5))
    assert(lexWant !== staleWant,
      "upserts/tombstones did not change the ranking; test is vacuous")

    // dense, same protocol
    val embSrc = stage("upvec-src", embSlices)
    val sv = new graft.streaming.StreamingVectorIndex(
      tmp("upvec-art").toString, books)
    val embSchema = spark.read.parquet(embSrc.toString).schema
    val embStream = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1).parquet(embSrc.toString)
    assert(sv.indexAvailable(spark, embStream, tmp("upvec-ckpt").toString) >= 3)
    val queryIds = Seq(0L, 60L, 170L)
    val adcGot = rows(sv.topK(spark, queryIds, 5).get)
    val adcWant = rows(VectorOps.pqTopK(liveEmb, queryIds, 5, Some(books)))
    assert(adcWant.nonEmpty, "live-corpus ADC reference empty; test is vacuous")
    assert(adcGot === adcWant,
      "artifact-served ADC diverges from the batch build over the live corpus")

    // a deleted doc is really gone from every serve surface
    val deadLex = sl.topK(spark, Seq(0L -> Seq("spark")), 500).get
      .where(col("doc_id") >= 100 && col("doc_id") < 150).count()
    assert(deadLex == 0, "tombstoned doc served by BM25")
    val deadVec = sv.topK(spark, queryIds, 500).get
      .where(col("vec_id") >= 100 && col("vec_id") < 150).count()
    assert(deadVec == 0, "tombstoned vec served by ADC")

    // hybrid over BOTH resolved artifacts ≡ batch hybrid over the live
    // corpus
    val (tf, dl) = sl.artifact(spark).get
    val (embArt, _) = sv.artifact(spark).get
    val hybridGot = rows(HybridOps.hybridTopKFrom(tf, dl, embArt, queries, 5))
    val hybridWant = rows(HybridOps.hybridTopK(liveDocs, liveEmb, queries, 5))
    assert(hybridWant.nonEmpty)
    assert(hybridGot === hybridWant,
      "hybrid over resolved artifacts diverges from the live-corpus batch hybrid")

    // replay safety survives resolution: re-running the re-crawl batch
    // overwrites its own slices and changes nothing
    sl.indexBatch(docSlices(1), 1)
    sv.indexBatch(embSlices(1), 1)
    assert(rows(sl.topK(spark, queries, 5).get) === lexWant,
      "lexical serve diverged after batch replay")
    assert(rows(sv.topK(spark, queryIds, 5).get) === adcWant,
      "dense serve diverged after batch replay")
  }

  test("streaming IVFADC: probe-pruned serve from the streamed cell+code artifact equals the batch build over the live corpus") {
    import graft.operators.VectorOps
    val fn = org.apache.spark.sql.functions
    val embAll = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    // fixed codebooks, the streaming-index contract: coarse cells AND
    // residual books trained once, held stable across the stream
    val cents = VectorOps.trainedCentroids(embAll)
    val books = VectorOps.pqResidualCodebooks(embAll, cents)
    val sv = new graft.streaming.StreamingVectorIndex(
      tmp("sivf-art").toString, books, Some(cents))
    // two upsert waves (the second re-embeds vecs 0-29 with flipped
    // vectors — cell assignment itself moves), then a tombstone wave
    val reembed = embAll.where(col("vec_id") < 30)
      .withColumn("embedding", fn.transform(col("embedding"), x => -x))
    sv.indexBatch(embAll.where(col("vec_id") < 200)
      .withColumn("is_deleted", lit(false)), 0)
    sv.indexBatch(embAll.where(col("vec_id") >= 200 && col("vec_id") < 400)
      .unionByName(reembed).withColumn("is_deleted", lit(false)), 1)
    sv.indexBatch(embAll.where(col("vec_id") >= 100 && col("vec_id") < 150)
      .withColumn("is_deleted", lit(true)), 2)
    val liveEmb = reembed
      .unionByName(embAll.where(col("vec_id") >= 30 && col("vec_id") < 100))
      .unionByName(embAll.where(col("vec_id") >= 150 && col("vec_id") < 400))
    val queryIds = Seq(0L, 60L, 170L)
    def rows(df: DataFrame) =
      df.orderBy("query_id", "rn").collect().map(_.toSeq).toSeq
    val got = rows(sv.ivfTopK(spark, queryIds, 5, nprobe = 2).get)
    // independent batch reference: the one-shot residual IVFADC over
    // the live corpus under the same fixed codebooks
    val want = rows(VectorOps.ivfPqResidualTopK(liveEmb, queryIds, 5,
      nprobe = 2, Some(cents), Some(books)))
    assert(want.nonEmpty, "live-corpus IVFADC reference empty; test is vacuous")
    assert(got === want,
      "streamed IVFADC serve diverges from the batch build over the live corpus")
    // a tombstoned vec is really gone from the probe-pruned surface
    val dead = sv.ivfTopK(spark, queryIds, 500, nprobe = cents.size).get
      .where(col("vec_id") >= 100 && col("vec_id") < 150).count()
    assert(dead == 0, "tombstoned vec served by streamed IVFADC")
    // replay safety and compaction both preserve the serve
    sv.indexBatch(embAll.where(col("vec_id") >= 200 && col("vec_id") < 400)
      .unionByName(reembed).withColumn("is_deleted", lit(false)), 1)
    assert(rows(sv.ivfTopK(spark, queryIds, 5, nprobe = 2).get) === want,
      "streamed IVFADC diverged after batch replay")
    sv.compact(spark)
    assert(rows(sv.ivfTopK(spark, queryIds, 5, nprobe = 2).get) === want,
      "compaction changed the streamed IVFADC serve")
  }

  test("streaming chunk IVFADC: streamed chunk-code slices serve MaxSim equal to the batch cindex build") {
    import graft.operators.{TextOps, VectorOps}
    val fn = org.apache.spark.sql.functions
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    val embAll = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val joined = docsAll
      .join(embAll, col("doc_id") === col("vec_id"))
      .select(col("vec_id"), col("text"), col("embedding"))
    val cents = VectorOps.trainedCentroids(embAll)
    val books = VectorOps.pqResidualCodebooks(embAll, cents)
    val sv = new graft.streaming.StreamingVectorIndex(
      tmp("scivf-art").toString, books, Some(cents), chunked = true)
    // the stale-tail case must be NON-vacuous: some re-crawled doc had
    // more than one chunk before the shrink
    assert(TextOps.chunkDocs(docsAll.where(col("doc_id") < 30))
      .where(col("chunk_id") > 0).count() > 0,
      "no multi-chunk doc among ids < 30; the shrink case is vacuous")
    // re-crawl docs < 30: SHORT text (chunk count shrinks to 1 — the
    // superseded tail chunks must vanish even though their composite
    // ids never reappear; parent-key resolution is what drops them)
    // and flipped vectors (cell assignments move)
    val recrawl = joined.where(col("vec_id") < 30)
      .withColumn("text", lit("tiny recrawl"))
      .withColumn("embedding", fn.transform(col("embedding"), x => -x))
    sv.indexBatch(joined.where(col("vec_id") < 200)
      .withColumn("is_deleted", lit(false)), 0)
    sv.indexBatch(joined.where(col("vec_id") >= 200 && col("vec_id") < 400)
      .unionByName(recrawl).withColumn("is_deleted", lit(false)), 1)
    sv.indexBatch(joined.where(col("vec_id") >= 100 && col("vec_id") < 150)
      .withColumn("is_deleted", lit(true)), 2)
    val liveJoined = recrawl
      .unionByName(joined.where(col("vec_id") >= 30 && col("vec_id") < 100))
      .unionByName(joined.where(col("vec_id") >= 150 && col("vec_id") < 400))
    val liveDocs = liveJoined.select(col("vec_id").as("doc_id"), col("text"))
    val liveEmb = liveJoined.select("vec_id", "embedding")
    val queryIds = Seq(0L, 60L, 170L)
    def rows(df: DataFrame) =
      df.orderBy("query_id", "rn").collect().map(_.toSeq).toSeq
    val got = rows(sv.chunkIvfTopK(spark, queryIds, 5, nprobe = 2).get)
    // independent batch reference: the one-shot cindex build over the
    // live corpus under the same fixed codebooks, served identically
    val probe = VectorOps.probePlanOf(liveEmb, queryIds, cents, 2)
    val batchIdx = VectorOps.chunkIvfPqIndex(
      VectorOps.chunkEmbeddingsFrom(TextOps.chunkDocs(liveDocs), liveEmb),
      cents, books)
    val want = rows(VectorOps.chunkIvfPqTopKFromIndex(
      batchIdx.where(col("cell").isin(probe.cells: _*)), liveEmb,
      queryIds, 5, 2, cents, books, Some(probe)))
    assert(want.nonEmpty, "batch chunk-index reference empty; vacuous")
    assert(got === want,
      "streamed chunk-dense serve diverges from the batch cindex build")
    // tombstoned docs' chunks are really gone from the pruned surface
    val wide = sv.chunkIvfTopK(spark, queryIds, 5000, nprobe = cents.size)
      .get.cache()
    assert(wide.where(col("doc_id") >= 100 && col("doc_id") < 150)
      .count() == 0, "tombstoned doc's chunks served")
    // shrunk docs attribute only their LIVE chunk (stale tails gone)
    assert(wide.where(col("doc_id") < 30 && col("chunk_id") > 0)
      .count() == 0, "stale tail chunk of a shrunk doc survived")
    wide.unpersist()
    // replay safety and compaction both preserve the serve
    sv.indexBatch(joined.where(col("vec_id") >= 200 && col("vec_id") < 400)
      .unionByName(recrawl).withColumn("is_deleted", lit(false)), 1)
    assert(rows(sv.chunkIvfTopK(spark, queryIds, 5, nprobe = 2).get) === want,
      "streamed chunk serve diverged after batch replay")
    sv.compact(spark)
    assert(rows(sv.chunkIvfTopK(spark, queryIds, 5, nprobe = 2).get) === want,
      "compaction changed the streamed chunk serve")

    // the full crawl-time CHUNK HYBRID: the streamed chunk-lexical
    // artifact and the streamed chunk-code artifact composed through
    // the one batch seam must equal the batch chunk hybrid over the
    // live corpus under the same fixed codebooks
    val sl = new graft.streaming.StreamingLexical(tmp("scivf-lex").toString)
    def asDocs(df: DataFrame, deleted: Boolean) =
      df.select(col("vec_id").as("doc_id"), col("text"),
        lit(deleted).as("is_deleted"))
    sl.indexBatch(asDocs(joined.where(col("vec_id") < 200), false), 0)
    sl.indexBatch(asDocs(joined.where(col("vec_id") >= 200 &&
      col("vec_id") < 400).unionByName(recrawl), false), 1)
    sl.indexBatch(asDocs(joined.where(col("vec_id") >= 100 &&
      col("vec_id") < 150), true), 2)
    val (ctfA, cdlA) = sl.chunkArtifact(spark).get
    val queries = Seq(0L -> Seq("spark", "join"), 60L -> Seq("vector", "table"))
    val hGot = rows(graft.operators.HybridOps.chunkHybridTopKFrom(
      ctfA, cdlA, sv.chunkArtifact(spark).get, sv.artifact(spark).get._1,
      queries, 5, cents, books))
    val hWant = rows(graft.operators.HybridOps.chunkHybridTopK(
      liveDocs, liveEmb, queries, 5, Some(cents), Some(books)))
    assert(hWant.nonEmpty, "batch chunk-hybrid reference empty; vacuous")
    assert(hGot === hWant,
      "streamed chunk hybrid diverges from the batch chunk hybrid")
    // reopen hazard, chunk flavor: a chunked handle over an artifact
    // committed without civf slices fails loudly at construction
    val plainRoot = tmp("scivf-plain").toString
    val plain = new graft.streaming.StreamingVectorIndex(
      plainRoot, books, Some(cents))
    plain.indexBatch(joined.where(col("vec_id") < 50)
      .withColumn("is_deleted", lit(false)), 0)
    val ex = intercept[IllegalArgumentException] {
      new graft.streaming.StreamingVectorIndex(
        plainRoot, books, Some(cents), chunked = true)
    }
    assert(ex.getMessage.contains("without chunk indexing"),
      s"wrong failure: ${ex.getMessage}")
  }

  test("compaction grace: a reader resolved before the swap still reads; a later sweep reclaims") {
    import graft.operators.TextOps
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    val queries = Seq(0L -> Seq("spark", "join"))
    def rows(df: DataFrame) =
      df.orderBy("query_id", "rn").collect().map(_.toSeq).toSeq
    def sliceDirs(root: String, frame: String) =
      Option(new java.io.File(s"$root/$frame").listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("gbatch="))
    val root = tmp("grace-lex").toString
    val sl = new graft.streaming.StreamingLexical(root)
    sl.indexBatch(docsAll.where(col("doc_id") < 100), 0)
    sl.indexBatch(docsAll.where(col("doc_id") >= 100 && col("doc_id") < 200), 1)
    // this plan resolved against the PRE-compaction slice paths
    val preSwapReader = sl.topK(spark, queries, 5).get
    val want = rows(preSwapReader)
    assert(want.nonEmpty)
    // default grace: the swap logs the superseded slices stale instead
    // of deleting them, so the pre-swap reader's union still executes
    assert(sl.compact(spark) == 1)
    assert(sliceDirs(root, "tf").nonEmpty,
      "superseded slices deleted inside the grace window")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "STALE")), "stale log missing")
    assert(rows(preSwapReader) === want,
      "pre-swap reader broke after compaction inside the grace window")
    // a later compaction with an elapsed grace sweeps everything the
    // earlier swap logged (and its own supersessions)
    assert(sl.compact(spark, graceMs = 0) == 1)
    assert(sliceDirs(root, "tf").isEmpty, "grace-expired slices survive")
    assert(rows(sl.topK(spark, queries, 5).get) === want,
      "served results changed across graced compactions")
  }

  test("streaming image phash: waves of upserts/re-crawls/tombstones serve the batch dup groups") {
    import graft.operators.{ImageAsset, MultimodalOps}
    val sess = spark
    import sess.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    def assetsOf(df: org.apache.spark.sql.DataFrame) =
      MultimodalOps.imageAssets(spark, df)
    // re-crawled assets carry DIFFERENT pixel content for the same id
    // (generated from id+5000), so the wave genuinely changes hashes
    def recrawled(df: org.apache.spark.sql.DataFrame) =
      MultimodalOps.imageAssets(spark,
          df.withColumn("doc_id", col("doc_id") + 5000))
        .map(a => ImageAsset(a.asset_id - 5000, a.media))

    val root = tmp("sphash").toString
    val sp = new graft.streaming.StreamingPHash(root)
    // wave 0: ids < 200; wave 1: 200-400 plus a re-crawl of ids < 30;
    // wave 2: tombstones for [150, 180)
    sp.indexBatch(assetsOf(docs.where(col("doc_id") < 200)).toDF(), 0)
    sp.indexBatch(
      assetsOf(docs.where(col("doc_id") >= 200 && col("doc_id") < 400))
        .union(recrawled(docs.where(col("doc_id") < 30))).toDF(), 1)
    sp.indexBatch(
      docs.where(col("doc_id") >= 150 && col("doc_id") < 180)
        .select(col("doc_id").as("asset_id"),
          col("text").cast("binary").as("media"),
          org.apache.spark.sql.functions.lit(true).as("is_deleted")), 2)

    // reference: the batch build over the LIVE corpus (re-crawled
    // content for ids < 30, [150,180) gone)
    val liveAssets = recrawled(docs.where(col("doc_id") < 30)).union(
      assetsOf(docs.where((col("doc_id") >= 30 && col("doc_id") < 150) ||
        (col("doc_id") >= 180 && col("doc_id") < 400))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rep").collect().map(_.toSeq).toSeq
    val want = rows(MultimodalOps.phashDupGroupsFrom(
      MultimodalOps.imagePHash(spark, liveAssets).toDF()))
    assert(want.nonEmpty, "no perceptual duplicates in the live corpus; vacuous")
    assert(rows(sp.dupGroups(spark).get) === want,
      "streamed dup groups diverge from the live-corpus batch build")
    // hashes resolve latest-slice-wins: a re-crawled id's hash is the
    // NEW content's hash
    val ph = sp.phashes(spark).get.where(col("asset_id") === 3L)
      .collect()(0).getString(3)
    val fresh = MultimodalOps.imagePHash(spark,
      recrawled(docs.where(col("doc_id") === 3L))).collect()(0).phash
    assert(ph === fresh, "re-crawled asset serves its OLD hash")
    // compaction preserves the serve
    assert(sp.compact(spark, graceMs = 0) == 2)
    assert(rows(sp.dupGroups(spark).get) === want,
      "compaction changed the streamed dup groups")
  }

  test("streaming audio fingerprint index: dup view equals the live-corpus batch build") {
    import graft.operators.{AudioAsset, MultimodalOps}
    val sess = spark
    import sess.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    def assetsOf(df: org.apache.spark.sql.DataFrame) =
      MultimodalOps.audioAssets(spark, df)
    // re-crawled assets carry a DIFFERENT waveform for the same id
    // (generated from id+5000), so the wave genuinely changes prints
    def recrawled(df: org.apache.spark.sql.DataFrame) =
      MultimodalOps.audioAssets(spark,
          df.withColumn("doc_id", col("doc_id") + 5000))
        .map(a => AudioAsset(a.asset_id - 5000, a.media))

    val root = tmp("saudiofp").toString
    val sa = new graft.streaming.StreamingAudioFingerprint(root)
    // wave 0: ids < 200; wave 1: 200-400 plus a re-crawl of ids < 30;
    // wave 2: tombstones for [150, 180)
    sa.indexBatch(assetsOf(docs.where(col("doc_id") < 200)).toDF(), 0)
    sa.indexBatch(
      assetsOf(docs.where(col("doc_id") >= 200 && col("doc_id") < 400))
        .union(recrawled(docs.where(col("doc_id") < 30))).toDF(), 1)
    sa.indexBatch(
      docs.where(col("doc_id") >= 150 && col("doc_id") < 180)
        .select(col("doc_id").as("asset_id"),
          col("text").cast("binary").as("media"),
          lit(true).as("is_deleted")), 2)

    val liveAssets = recrawled(docs.where(col("doc_id") < 30)).union(
      assetsOf(docs.where((col("doc_id") >= 30 && col("doc_id") < 150) ||
        (col("doc_id") >= 180 && col("doc_id") < 400))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("asset_id").collect().map(_.toSeq).toSeq
    val want = rows(MultimodalOps.audioDupGroupsFrom(
      MultimodalOps.audioFingerprint(spark, liveAssets).toDF()))
    assert(want.nonEmpty, "live corpus fingerprinted to nothing; vacuous")
    assert(rows(sa.dupGroups(spark).get) === want,
      "streamed audio dup view diverges from the live-corpus batch build")
    // fingerprints resolve latest-slice-wins: a re-crawled id serves
    // the NEW waveform's print
    val afp = sa.fingerprints(spark).get.where(col("asset_id") === 3L)
      .collect()(0).getString(2)
    val fresh = MultimodalOps.audioFingerprint(spark,
      recrawled(docs.where(col("doc_id") === 3L))).collect()(0).afp
    assert(afp === fresh, "re-crawled asset serves its OLD fingerprint")
    // compaction preserves the serve
    assert(sa.compact(spark, graceMs = 0) == 2)
    assert(rows(sa.dupGroups(spark).get) === want,
      "compaction changed the streamed audio dup view")
  }

  test("reopening a cents-less vector artifact with cents fails fast; uncommitted batches do not trip it") {
    import graft.operators.VectorOps
    val embAll = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val books = VectorOps.pqTrainedCodebooks(embAll)
    val cents = VectorOps.trainedCentroids(embAll)
    val root = tmp("reopen-vec").toString
    // a committed batch written WITHOUT a coarse codebook (no ivf slice)
    val sv0 = new graft.streaming.StreamingVectorIndex(root, books)
    sv0.indexBatch(embAll.where(col("vec_id") < 50), 0)
    val ex = intercept[IllegalArgumentException] {
      new graft.streaming.StreamingVectorIndex(root, books, Some(cents))
    }
    assert(ex.getMessage.contains("without a coarse codebook"),
      s"wrong failure: ${ex.getMessage}")
    // an UNCOMMITTED batch (crash before the ops slice landed) must NOT
    // trip the check: the checkpointed replay will rewrite it wholesale
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(s"$root/ops/gbatch=0"))
    val sv1 = new graft.streaming.StreamingVectorIndex(root, books, Some(cents))
    // the replayed batch (same id, overwrite slices) commits WITH its
    // ivf slice and the IVFADC serve works
    sv1.indexBatch(embAll.where(col("vec_id") < 50), 0)
    assert(sv1.ivfTopK(spark, Seq(0L), 3, nprobe = 2).get.count() > 0)

    // pinned-constants guard: same books reopen fine (above); DIFFERENT
    // books refuse — codes are meaningless under the wrong codebooks
    val exB = intercept[IllegalArgumentException] {
      new graft.streaming.StreamingVectorIndex(root,
        books.map(_.map(_.map(_ + 1.0))))
    }
    assert(exB.getMessage.contains("different PQ books"),
      s"wrong failure: ${exB.getMessage}")
    // ...a different coarse codebook refuses too, while an ADC-only
    // (cents-less) reopen of this cents-carrying artifact stays legal
    val exC = intercept[IllegalArgumentException] {
      new graft.streaming.StreamingVectorIndex(root, books,
        Some(cents.map(_.map(_ + 1.0))))
    }
    assert(exC.getMessage.contains("different coarse codebook"),
      s"wrong failure: ${exC.getMessage}")
    new graft.streaming.StreamingVectorIndex(root, books) // ADC-only: fine
  }
}
