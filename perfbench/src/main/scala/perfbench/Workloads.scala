package perfbench

import graft.operators.HybridOps
import graft.serve.Retrieval
import graft.sync.{IndexStore, SyncPipeline, WatermarkStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.util.control.NonFatal

/** What one workload run measured. Times are milliseconds unless named
  * otherwise; `layers` holds the traced per-layer figures. */
final case class Outcome(
    bootstrapS: Double,
    warmupS: Double,
    opsMs: Seq[Double],
    lookupsMs: Seq[Double],
    storeBytesPerDoc: Double,
    attempted: Int,
    failures: Seq[(String, String)],
    layers: Map[String, Double])

final class RunContext(val spark: SparkSession, val seed: Long, val seconds: Double,
    val work: Path, val cores: Int, val tracer: Option[Tracer]) {

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e6)
  }

  /** Times a call into the library. In a traced run with `traced` set it
    * runs as a span caused by `parent`, with the listener attached. */
  def call[A](name: String, traced: Boolean, parent: Option[Span] = None)(body: => A)
      : (A, Double, Option[Span]) =
    tracer match {
      case Some(t) if traced =>
        t.attach()
        try { val (a, s) = t.span(name, parent.fold(0)(_.id))(body); (a, s.ms, Some(s)) }
        finally t.detach()
      case _ => val (a, ms) = timed(body); (a, ms, None)
    }

  /** Times op `i`. In a traced run every other op is a span with the
    * listener attached and the rest run with it detached, so the run
    * reports the listener's cost as the ratio of the two medians. */
  def op[A](i: Int, name: String)(body: => A): (A, Double, Option[Span]) =
    call(name, traced = i % 2 == 0)(body)

  /** Keeps running `step` until the measured window has passed, and at
    * least `minOps` times. */
  def loop(minOps: Int)(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) { step(i); i += 1 }
  }

  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")
}

object Workloads {

  val Names: Seq[String] = Seq("cdc_sync", "serve_search")

  // Input sizes. Spark's fixed cost per job dominates every operation at
  // these sizes on four cores; they are chosen so that a run, with its
  // set-up and checks, stays under a minute.
  val CdcDocs = 30000L
  /** The CDC batches land on the largest index; the other seven are
    * planned and skipped every round. */
  val CdcHotIndex = 0
  val CdcChanges = 200
  /** ~2k docs per bucket, near the ~3k the default 64 buckets give at
    * 200k docs. */
  val Buckets = 16
  /** Rounds run slower until the JIT settles; the first ones stay untimed. */
  val CdcWarmupRounds = 2
  val CorpusDocs = 1000L
  val QueriesPerCall = 8
  val K = 10
  /** Ops keep getting faster for about ten rounds or five calls as the JIT
    * compiles Spark's planner, so a run's median depends on which ops it
    * times. Each run times at least this many, and at least `--seconds`;
    * sized to take longer than the window, they fix the count, so every
    * run's median comes from the same op positions. */
  val CdcRounds = 4
  val ServeCalls = 5
  val LookupsPerOp = 2

  def run(name: String, ctx: RunContext): Outcome = name match {
    case "cdc_sync" => cdcSync(ctx)
    case "serve_search" => serveSearch(ctx)
  }

  private def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private val MB = 1024.0 * 1024.0
  private type Buf[A] = collection.mutable.ArrayBuffer[A]
  private def buf[A] = collection.mutable.ArrayBuffer.empty[A]

  /** Op samples of one run, split by whether the op was traced. */
  private final class Samples {
    val ops, lookups, traced, untraced = buf[Double]
    val opSpans = buf[Span]
    def add(ms: Double, span: Option[Span]): Unit = {
      ops += ms
      span match {
        case Some(s) => traced += ms; opSpans += s
        case None => untraced += ms
      }
    }
    /** Spark work per op over the traced ops, and the listener's cost as
      * the ratio of traced to untraced op medians. */
    def layers(cores: Int): Map[String, Double] =
      (if (opSpans.isEmpty) Map.empty[String, Double] else Map(
        "spark.jobs_per_op" -> mean(opSpans.map(_.work.jobs.toDouble)),
        "spark.tasks_per_op" -> mean(opSpans.map(_.work.tasks.toDouble)),
        "spark.shuffle_mb_per_op" -> mean(opSpans.map(_.work.shuffleBytes / MB)),
        "spark.gc_ms_per_op" -> mean(opSpans.map(_.work.gcMs.toDouble)),
        "spark.core_busy_ratio" -> opSpans.map(_.work.runMs.toDouble).sum / (opSpans.map(_.ms).sum * cores))) ++
        (if (traced.isEmpty || untraced.isEmpty) Map.empty
         else Map("trace.overhead_ratio" -> Stats.median(traced.toSeq) / Stats.median(untraced.toSeq)))
  }

  /** Runs an op's follow-up lookup `LookupsPerOp` times, so the lookup
    * median rests on more samples than the op's; the first one is traced
    * when the op was. Returns the first result and every time. */
  private def lookups[A](opSpan: Option[Span], name: String)(body: => A)(implicit ctx: RunContext)
      : (A, Seq[Double], Option[Span]) = {
    val (a, ms, span) = ctx.call(name, opSpan.isDefined, opSpan)(body)
    (a, ms +: (1 until LookupsPerOp).map(_ => ctx.timed(body)._2), span)
  }

  /** Looks up `ids` (every id with None) in the live indexes through
    * `IndexStore.read`. */
  private def lookup(store: IndexStore, indexes: Seq[String], ids: Option[Seq[String]]): Seq[(String, String)] =
    Checks.stored(store, indexes).toSeq.flatMap { df =>
      ids.fold(df)(is => df.where(col("id").isin(is: _*))).select("id", "document").collect()
        .map(r => r.getString(0) -> r.getString(1))
    }

  /** Runs a check (or an op and its check); problems and exceptions are
    * recorded under `what`, one failed operation per distinct `what`. */
  private def guard(failures: Buf[(String, String)], what: String)(body: => Seq[String]): Unit =
    try failures ++= body.map(what -> _)
    catch { case NonFatal(e) => failures += what -> s"${e.getClass.getSimpleName}: ${e.getMessage}" }

  /** A small pass over the sync path and the checks, for the runner's
    * class-data archive: the classes it loads are mapped from the archive
    * by later runs instead of loaded from the jars. Measures nothing. */
  def train(implicit ctx: RunContext): Unit = {
    import ctx._
    val src = dir("train/source")
    Gen.envelope(spark, seed, 2000, cores).write.mode("overwrite").parquet(src)
    val root = dir("train/store")
    val store = new IndexStore(spark, root)
    val pipeline = new SyncPipeline(store, new WatermarkStore(s"$root/_wm"))
    pipeline.fullSyncBucketed(spark.read.parquet(src), None, "t0", cores)
    val live = new Gen.LiveIds(seed, 2000, CdcHotIndex)
    Gen.changesFrame(spark, Gen.cdcBatch(seed, 0, 20, live)).write.mode("append").parquet(src)
    pipeline.incrementalSyncInPlace(spark.read.parquet(src), None, cores)
    lookup(store, Seq(Gen.Indexes(CdcHotIndex)), Some(Seq(Gen.id(0))))
    Checks.storeMatches(store, Gen.Indexes, Checks.expectedLatest(spark.read.parquet(src)))
    log("trained")
  }

  // ---- cdc_sync ----------------------------------------------------------

  /** Set-up bootstraps a bucketed store with `fullSyncBucketed`. One op =
    * a 200-change batch landing in the source, then
    * `incrementalSyncInPlace` over every index publishing it. Each op is
    * followed by a lookup of the batch's ids through `IndexStore.read`. */
  def cdcSync(implicit ctx: RunContext): Outcome = {
    import ctx._
    val src = dir("cdc/source")
    Gen.envelope(spark, seed, CdcDocs, cores * 4).write.mode("overwrite").parquet(src)
    val failures = buf[(String, String)]
    val hot = Gen.Indexes(CdcHotIndex)
    log("generated")

    val root = dir("cdc/store")
    val storeRoot = work.resolve("cdc/store")
    val store = new IndexStore(spark, root)
    val pipeline = new SyncPipeline(store, new WatermarkStore(s"$root/_wm"))
    val (_, bootMs) = timed(pipeline.fullSyncBucketed(spark.read.parquet(src), None, "b0", Buckets))
    val live = new Gen.LiveIds(seed, CdcDocs, CdcHotIndex)
    // the hot index's expected live state, kept by the benchmark itself
    val model = Gen.liveDocs(seed, CdcDocs, live)
    log("bootstrapped")

    val s = new Samples
    val storeFiles, buckets, bytesPerChange, lookupMb, planS, planMb = buf[Double]
    var round = 0

    def step(i: Int, measured: Boolean): Seq[String] = {
      val changes = Gen.cdcBatch(seed, round, CdcChanges, live)
      round += 1
      Gen.applyBatch(model, changes)
      Gen.changesFrame(spark, changes).coalesce(1).write.mode("append").parquet(src)
      def sync() = pipeline.incrementalSyncInPlace(spark.read.parquet(src), None, Buckets)
      val before = if (tracer.isDefined) DirListing.of(storeRoot) else Map.empty[String, Long]
      val (reports, ms, span) = if (measured) op(i, "cdc.round")(sync()) else { val (r, t) = timed(sync()); (r, t, None) }
      val (got, lms, lspan) = lookups(span, "cdc.lookup")(lookup(store, Seq(hot), Some(changes.map(c => Gen.id(c.n)))))
      if (measured) { s.add(ms, span); s.lookups ++= lms }
      if (span.isDefined) {
        val after = DirListing.of(storeRoot)
        val added = DirListing.added(before, after)
        storeFiles += after.size
        buckets += added.keys.map(p => p.substring(0, p.lastIndexOf('/'))).toSet.size
        bytesPerChange += added.values.sum.toDouble / changes.size
        lspan.foreach(l => lookupMb += l.work.bytesRead / MB)
        call("sync.planOrder", traced = true, span)(pipeline.planOrder(spark.read.parquet(src), Gen.Indexes))._3
          .foreach { p => planS += p.ms / 1000; planMb += p.work.bytesRead / MB }
      }
      val upserts = changes.count(!_.isDeleted).toLong
      val want = Map(hot -> ("incremental", upserts, changes.size - upserts)) ++
        Gen.Indexes.filter(_ != hot).map(_ -> ("skipped", 0L, 0L))
      val tallies = reports.map(r => r.index -> (r.mode, r.upserts, r.deletes)).toMap
      (if (tallies != want) Seq(s"sync reports $tallies, batch has $want") else Nil) ++
        Checks.rowsMatch("lookup", got, changes.filterNot(_.isDeleted).map(c => Gen.id(c.n) -> c.document).toMap) ++
        Checks.rowsMatch("store state", lookup(store, Seq(hot), None), model.toMap)
    }
    val (_, warmupMs) = timed((0 until CdcWarmupRounds).foreach(w =>
      guard(failures, s"warm-up round ${w + 1}")(step(w, measured = false))))
    log("warm")
    var attempted = 0
    loop(CdcRounds) { i =>
      attempted += 1
      guard(failures, s"round ${round + 1}")(step(i, measured = true))
    }
    guard(failures, "final state") {
      Checks.storeMatches(store, Gen.Indexes, Checks.expectedLatest(spark.read.parquet(src)))
    }
    Outcome(bootMs / 1000, warmupMs / 1000, s.ops.toSeq, s.lookups.toSeq,
      DirListing.bytes(storeRoot).toDouble / Checks.stored(store, Gen.Indexes).map(_.count()).getOrElse(1L),
      CdcWarmupRounds + attempted + 1, failures.toSeq,
      s.layers(cores) ++ Map(
        "sync.bootstrap_s" -> bootMs / 1000,
        "sync.store_files" -> mean(storeFiles),
        "sync.buckets_rewritten_per_round" -> mean(buckets),
        "sync.bytes_written_per_change" -> mean(bytesPerChange),
        "sync.lookup_mb_read" -> mean(lookupMb),
        "sync.plan_s" -> mean(planS),
        "sync.plan_source_mb" -> mean(planMb)))
  }

  // ---- serve_search ------------------------------------------------------

  /** Set-up syncs the corpus into a store with `fullSync` and builds a
    * retrieval snapshot over the published docs. One op = one `search`
    * of 8 hybrid RRF queries at k = 10. Each op is followed by fetching
    * the hits' documents through `IndexStore.read`. */
  def serveSearch(implicit ctx: RunContext): Outcome = {
    import ctx._
    val srcDir = dir("serve/corpus")
    val embDir = dir("serve/emb")
    Gen.corpus(spark, seed, CorpusDocs, cores).write.mode("overwrite").parquet(srcDir)
    Gen.embeddings(spark, seed, CorpusDocs, cores).write.mode("overwrite").parquet(embDir)
    val emb = spark.read.parquet(embDir)
    val failures = buf[(String, String)]
    log("generated")

    val root = dir("serve/store")
    val store = new IndexStore(spark, root)
    val syncPipeline = new SyncPipeline(store, new WatermarkStore(s"$root/_wm"))
    val (_, syncMs) = timed(syncPipeline.fullSync(spark.read.parquet(srcDir), None, "s0"))
    val docs = store.read("corpus").get.select(col("id").cast("long").as("doc_id"),
      get_json_object(col("document"), "$.text").as("text"))
    val snapDir = work.resolve("serve/snap")
    val (_, buildMs) = timed(Retrieval.build(docs, emb, snapDir.toString))
    val served = Retrieval.load(spark, snapDir.toString)
    log("built")

    // the snapshot checks double as the warm-up: they run searches and the
    // halves a search composes before any call is timed
    val (_, warmupMs) = timed(guard(failures, "snapshot") {
      val drift = syncPipeline.reconcile(spark.read.parquet(srcDir), Seq("corpus"))
      (if (drift.nonEmpty) Seq(s"reconcile reports $drift") else Nil) ++
        Checks.serveMatchesComposed(served, docs, emb, Gen.queries(seed, -1, QueriesPerCall, CorpusDocs), K)
    })
    log("warm")

    def search(qs: Seq[(Long, Seq[String])]) = served.search(qs, K, HybridOps.Rrf).collect().toSeq

    val s = new Samples
    val lexMs, denseMs, mbRead = buf[Double]
    var attempted = 0
    loop(ServeCalls) { i =>
      attempted += 1
      guard(failures, s"call $i") {
        val qs = Gen.queries(seed, i, QueriesPerCall, CorpusDocs)
        val (rows, ms, span) = op(i, "serve.search")(search(qs))
        s.add(ms, span)
        val hits = rows.map(_.getAs[Number]("doc_id").longValue.toString).distinct
        val (got, lms, _) = lookups(span, "serve.hydrate")(lookup(store, Seq("corpus"), Some(hits)))
        s.lookups ++= lms
        span.foreach { sp =>
          mbRead += sp.work.bytesRead / MB
          lexMs += call("serve.lexical", traced = true, span)(served.lexicalTopK(qs, K).collect())._2
          denseMs += call("serve.dense", traced = true, span)(served.denseTopK(qs.map(_._1), K).collect())._2
        }
        Checks.searchShape(rows, qs.map(_._1), K) ++
          (if (got.map(_._1).toSet != hits.toSet) Seq(s"hydrated ${got.size} of ${hits.size} hits") else Nil)
      }
    }
    Outcome((syncMs + buildMs) / 1000, warmupMs / 1000, s.ops.toSeq, s.lookups.toSeq,
      DirListing.bytes(snapDir).toDouble / CorpusDocs, attempted + 1, failures.toSeq,
      s.layers(cores) ++ Map(
        "sync.bootstrap_s" -> syncMs / 1000,
        "serve.build_s" -> buildMs / 1000,
        "serve.lexical_ms" -> mean(lexMs),
        "serve.dense_ms" -> mean(denseMs),
        "serve.mb_read_per_call" -> mean(mbRead),
        "serve.snapshot_files" -> DirListing.of(snapDir).size.toDouble,
        "sync.store_files" -> DirListing.of(java.nio.file.Paths.get(root)).size.toDouble))
  }
}
