package graft

import graft.operators.IndexerOps
import graft.sources.Tables
import graft.sources.Tables._
import graft.sync.{IndexStore, RetryPolicy, SyncPipeline, WatermarkStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class SyncPipelineSpec extends AnyFunSuite with SparkSpec {

  lazy val env = Tables.envelope(spark, sf).cache()

  /** Listener events arrive asynchronously; poll briefly. */
  private def eventually(cond: => Boolean, timeoutMs: Long = 10000): Unit = {
    val t0 = System.currentTimeMillis()
    while (!cond && System.currentTimeMillis() - t0 < timeoutMs) Thread.sleep(25)
    assert(cond, "condition not met within timeout")
  }

  /** `body`'s result and the Spark jobs it ran, counted between two
    * marker jobs: listener events arrive in order, so seeing the closing
    * marker means every job of `body` was seen. */
  private def countingJobs[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val phase = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.job.description")) match {
          case Some("graft-count-open") => phase.compareAndSet(0, 1)
          case Some("graft-count-close") => phase.compareAndSet(1, 2)
          case _ => if (phase.get == 1) jobs.incrementAndGet()
        }
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("graft-count-open")
      val r = body
      marker("graft-count-close")
      eventually(phase.get == 2)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def freshPipeline(): (IndexStore, WatermarkStore, SyncPipeline, String) = {
    val dir = Files.createTempDirectory("graft-sync").toString
    val store = new IndexStore(spark, dir)
    val wms = new WatermarkStore(dir)
    (store, wms, new SyncPipeline(store, wms), dir)
  }

  test("full sync: blue/green publish, counts reconcile, orphans removed") {
    val (store, _, pipe, _) = freshPipeline()
    // seed an orphan that no alias will reference
    store.writePhysical("stale_20230101", env.limit(3))
    val reports = pipe.fullSync(env, None, timestamp = "t1")
    assert(reports.map(_.index).toSet ==
      Set("click", "view", "purchase", "signup", "error"))
    assert(store.physicalIndexes().forall(_.endsWith("_t1")))
    assert(!store.indexExists("stale_20230101"))
    assert(pipe.reconcile(env, reports.map(_.index)).isEmpty)
    // tombstone-only 'error' index is empty but exists (alias bound)
    assert(store.count("error") == 0)
  }

  test("full sync ≡ incremental-from-epoch (same final state)") {
    val (storeA, _, pipeA, _) = freshPipeline()
    pipeA.fullSync(env, None, timestamp = "t1")
    val (storeB, _, pipeB, _) = freshPipeline()
    pipeB.incrementalSync(env, None, timestamp = "t1")
    for (idx <- Seq("click", "view", "purchase", "signup")) {
      val a = storeA.read(idx).get.select(Id, Document).orderBy(Id)
      val b = storeB.read(idx).get.select(Id, Document).orderBy(Id)
      assert(a.collect().sameElements(b.collect()), s"state differs for $idx")
    }
  }

  test("incremental sync applies upserts and tombstone deletes, then skips when caught up") {
    val (store, wms, pipe, _) = freshPipeline()
    val cutoff = "2024-01-15 00:00:00"
    val early = env.where(col(UpdatedAt) < lit(cutoff).cast("timestamp"))
    // bootstrap with the early slice, watermark persisted from early data
    pipe.fullSync(early, None, timestamp = "t1")
    val before = store.count("click")
    // second run over the full data applies only post-watermark changes
    val reports = pipe.incrementalSync(env, None, timestamp = "t2")
    val after = store.count("click")
    assert(after > before)
    assert(pipe.reconcile(env, Seq("click", "view", "purchase", "signup")).isEmpty)
    // third run: watermark is max(updated_at) → nothing to do
    val again = pipe.incrementalSync(env, None, timestamp = "t3")
    assert(again.forall(_.mode == "skipped"))
  }

  test("incremental delete: tombstoned id disappears from live state") {
    val (store, wms, pipe, _) = freshPipeline()
    // state where doc 42 is live in 'click'
    val doc42 = env.where(col(Id) === "42").limit(1)
      .select(lit("click").as(Idx), col(Id), col(Document),
        lit(false).as(IsDeleted), col(UpdatedAt))
    val initial = env.where(col(Idx) === "click").unionByName(doc42)
    pipe.fullSync(initial, Some(Seq("click")), timestamp = "t1")
    assert(store.read("click").get.where(col(Id) === "42").count() == 1)
    // CDC batch: same doc tombstoned later
    wms.save("2024-02-01 00:00:00")
    val tomb = doc42.select(col(Idx), col(Id), col(Document),
      lit(true).as(IsDeleted),
      lit("2024-02-02 00:00:00").cast("timestamp").as(UpdatedAt))
    pipe.incrementalSync(tomb, Some(Seq("click")), timestamp = "t2")
    assert(store.read("click").get.where(col(Id) === "42").count() == 0)
  }

  test("error-tolerant sink: poison rows quarantine, good rows land, write never fails") {
    val dir = Files.createTempDirectory("graft-sync").toString
    val store = new IndexStore(spark, dir)
    val wms = new WatermarkStore(dir)
    val valid = length(trim(col(Id))) > 0
    // default fail-fast retry policy: a poison row reaching the writer as
    // a FAILURE would abort the sync — the success below proves rejects
    // never trigger the retry path at all
    val pipe = new SyncPipeline(store, wms, validity = Some(valid))
    def poisonRow(ts: String) = env.limit(1).select(
      lit("click").as(Idx), lit("").as(Id), lit("""{"k":"x"}""").as(Document),
      lit(false).as(IsDeleted), lit(ts).cast("timestamp").as(UpdatedAt))
    // NULL id: the validity predicate evaluates to NULL, which must count
    // as poison (a third silently-dropped partition would destroy the row)
    def nullRow(ts: String) = env.limit(1).select(
      lit("click").as(Idx), lit(null).cast("string").as(Id),
      lit("""{"k":"y"}""").as(Document),
      lit(false).as(IsDeleted), lit(ts).cast("timestamp").as(UpdatedAt))
    val feed = env.where(col(Idx) === "click")
      .unionByName(poisonRow("2024-01-02 00:00:00"))
      .unionByName(nullRow("2024-01-02 00:00:00"))
    val reports = pipe.fullSync(feed, Some(Seq("click")), timestamp = "t1")
    assert(reports.head.rejects === 2L)
    // all good rows landed, none of the poison did
    val live = store.read("click").get
    assert(live.where(col(Id).isNull || length(trim(col(Id))) === 0).count() === 0)
    assert(pipe.reconcile(feed.where(coalesce(valid, lit(false))), Seq("click")).isEmpty)
    // quarantine holds exactly the poison rows (incl. the NULL id),
    // invisible to the catalog
    val q = store.rejected(store.aliases()("click")).get
    assert(q.count() === 2L)
    assert(q.where(col(Id).isNull).count() === 1L)
    assert(store.physicalIndexes().forall(!_.startsWith("_")))

    // incremental merge path quarantines too
    val feed2 = feed
      .unionByName(poisonRow("2024-03-01 00:00:00"))
      .unionByName(env.where(col(Idx) === "click").limit(1).select(
        col(Idx), lit("990001").as(Id), col(Document), lit(false).as(IsDeleted),
        lit("2024-03-01 00:00:00").cast("timestamp").as(UpdatedAt)))
    val inc = pipe.incrementalSync(feed2, Some(Seq("click")), timestamp = "t2")
    assert(inc.head.mode === "incremental" && inc.head.rejects >= 1L)
    assert(store.read("click").get.where(col(Id) === "990001").count() === 1)
    assert(store.read("click").get.where(length(trim(col(Id))) === 0).count() === 0)
  }

  test("error-tolerant sink covers the bucketed in-place path") {
    val dir = Files.createTempDirectory("graft-sync").toString
    val store = new IndexStore(spark, dir)
    val valid = length(trim(col(Id))) > 0
    val pipe = new SyncPipeline(store, new WatermarkStore(dir), validity = Some(valid))
    val cutoff = "2024-01-15 00:00:00"
    def poison(ts: String) = env.limit(1).select(
      lit("click").as(Idx), lit(" ").as(Id), lit("""{"k":"p"}""").as(Document),
      lit(false).as(IsDeleted), lit(ts).cast("timestamp").as(UpdatedAt))
    val early = env.where(col(Idx) === "click" &&
      col(UpdatedAt) < lit(cutoff).cast("timestamp"))
    // bootstrap: poison row must not enter the bucketed layout
    val boot = pipe.fullSyncBucketed(
      early.unionByName(poison("2024-01-02 00:00:00")),
      Some(Seq("click")), timestamp = "t1", buckets = 4)
    assert(boot.head.rejects === 1L)
    assert(store.read("click").get.where(length(trim(col(Id))) === 0).count() === 0)
    // in-place merge: late poison quarantines, late good row merges
    val lateGood = env.where(col(Idx) === "click").limit(1).select(
      col(Idx), lit("880001").as(Id), col(Document), lit(false).as(IsDeleted),
      lit("2024-03-01 00:00:00").cast("timestamp").as(UpdatedAt))
    val feed = early.unionByName(poison("2024-03-01 00:00:00")).unionByName(lateGood)
    val inc = pipe.incrementalSyncInPlace(feed, Some(Seq("click")), buckets = 4)
    assert(inc.head.rejects === 1L)
    assert(store.read("click").get.where(col(Id) === "880001").count() === 1L)
    assert(store.read("click").get.where(length(trim(col(Id))) === 0).count() === 0)
    // the quarantine ACCUMULATES across syncs against the same physical
    // name (bootstrap's poison + the increment's) — earlier quarantined
    // rows are never destroyed before inspection
    assert(store.rejected(store.aliases()("click")).get.count() === 2L)
  }

  test("error-tolerant sink: an all-poison index lands empty with every row quarantined") {
    val dir = Files.createTempDirectory("graft-sync").toString
    val store = new IndexStore(spark, dir)
    val pipe = new SyncPipeline(store, new WatermarkStore(dir),
      validity = Some(length(trim(col(Id))) > 0))
    val allPoison = env.where(col(Idx) === "view").limit(5)
      .select(col(Idx), lit(" ").as(Id), col(Document), col(IsDeleted), col(UpdatedAt))
    val reports = pipe.fullSync(allPoison, Some(Seq("view")), timestamp = "t1")
    assert(reports.head.rejects === 5L)
    assert(reports.head.upserts === 0L)
    assert(store.aliasExists("view") && store.count("view") === 0L)
    assert(store.rejected(store.aliases()("view")).get.count() === 5L)
  }

  test("bucket re-scale 8→16: content preserved, placement correct, merges auto-use the new count") {
    val (store, _, pipe, _) = freshPipeline()
    val cutoff = "2024-01-15 00:00:00"
    val early = env.where(col(UpdatedAt) < lit(cutoff).cast("timestamp"))
    pipe.fullSyncBucketed(early, Some(Seq("click")), timestamp = "t1", buckets = 8)
    val physBefore = store.aliases()("click")
    assert(store.bucketCountOf(physBefore) === Some(8))
    val before = store.readPhysical(physBefore).drop(store.BucketKey)
      .orderBy(Id).collect()

    val physAfter = pipe.rescaleBuckets("click", to = 16, timestamp = "t2")
    assert(store.aliases()("click") === physAfter)
    assert(store.bucketCountOf(physAfter) === Some(16))
    assert(!store.indexExists(physBefore), "old physical must be dropped by the swap")
    val after = store.readPhysical(physAfter)
    // every row sits in the dir its 16-bucket hash says
    assert(after.where(col(store.BucketKey).cast("long") =!=
      pmod(xxhash64(col(Id)), lit(16L))).count() === 0)
    // content identical to pre-rescale
    assert(after.drop(store.BucketKey).orderBy(Id).collect().sameElements(before))
    // the split actually produced upper-half buckets
    assert(after.select(store.BucketKey).distinct().collect()
      .map(_.getAs[Number](0).longValue()).exists(_ >= 8))

    // post-rescale merge with a STALE caller count: the index metadata
    // wins, placement stays correct, and the end state equals a fresh
    // 16-bucket pipeline over the same data
    val r = pipe.incrementalSyncInPlace(env, Some(Seq("click")), buckets = 8)
    assert(r.head.mode === "incremental")
    assert(store.readPhysical(physAfter).where(col(store.BucketKey).cast("long") =!=
      pmod(xxhash64(col(Id)), lit(16L))).count() === 0)
    val (storeB, _, pipeB, _) = freshPipeline()
    pipeB.fullSyncBucketed(early, Some(Seq("click")), timestamp = "t1", buckets = 16)
    pipeB.incrementalSyncInPlace(env, Some(Seq("click")), buckets = 16)
    val a = store.read("click").get.select(Id, Document).orderBy(Id).collect()
    val b = storeB.read("click").get.select(Id, Document).orderBy(Id).collect()
    assert(a.sameElements(b))
  }

  test("DSv2 catalog: SQL over aliases with pushdown; swap repoints the same name") {
    val (store, _, pipe, _) = freshPipeline()
    pipe.fullSync(env, Some(Seq("click", "view")), timestamp = "t1")
    store.registerCatalog("graftsql")
    val before = spark.sql("SELECT count(*) FROM graftsql.click").head().getLong(0)
    assert(before === store.count("click"))
    assert(spark.sql("SHOW TABLES IN graftsql").collect()
      .map(_.getString(1)).toSet === Set("click", "view"))
    // pushdown reaches the parquet scan through the catalog relation
    val plan = spark.sql("SELECT id FROM graftsql.click WHERE id = '42'")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("EqualTo(id"), s"filter not pushed through catalog:\n$plan")
    // blue/green swap repoints the NEXT query at the new physical index —
    // same table name, no re-registration
    pipe.fullSync(
      env.where(col(UpdatedAt) < lit("2024-01-15 00:00:00").cast("timestamp")),
      Some(Seq("click")), timestamp = "t2")
    val after = spark.sql("SELECT count(*) FROM graftsql.click").head().getLong(0)
    assert(after === store.count("click") && after < before)
    // read-only: DDL through SQL is rejected (mutations use the store's
    // commit protocol)
    intercept[Exception](spark.sql("DROP TABLE graftsql.click"))
    assert(store.aliasExists("click"))
  }

  test("DSv2 catalog INSERT routes through the tolerant staged writer") {
    val (store, _, pipe, dir) = freshPipeline()
    pipe.fullSync(env, Some(Seq("click", "view")), timestamp = "t1")
    // a dedicated catalog name: Spark caches the instance per name, so
    // the validity option must be set before first use
    spark.conf.set("spark.sql.catalog.gins",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gins.root", dir)
    spark.conf.set("spark.sql.catalog.gins.validity", s"length($Id) > 0")
    val before = store.count("click")
    val beforePhys = store.aliases()("click")

    // 2 valid rows + 1 poison row (empty id), shaped like the live index;
    // materialized locally — the first INSERT's swap deletes the old
    // physical the rows were derived from
    val live = store.read("click").get
    val batch = live.limit(2).withColumn(Id, concat(lit("ins_"), col(Id)))
      .unionByName(live.limit(1).withColumn(Id, lit("")))
    spark.createDataFrame(
        java.util.Arrays.asList(batch.collect(): _*), batch.schema)
      .createOrReplaceTempView("gins_batch")
    spark.sql("INSERT INTO gins.click SELECT * FROM gins_batch")

    // valid rows landed; the poison row did not
    assert(store.count("click") === before + 2)
    assert(spark.sql("SELECT count(*) FROM gins.click").head().getLong(0) === before + 2)
    assert(spark.sql(s"SELECT count(*) FROM gins.click WHERE $Id LIKE 'ins_%'")
      .head().getLong(0) === 2L)
    // blue/green: the insert published a NEW physical and swapped the alias
    val afterPhys = store.aliases()("click")
    assert(afterPhys !== beforePhys)
    assert(!store.indexExists(beforePhys))
    // the poison row quarantined under the new physical's rejects dir
    val rej = store.rejected(afterPhys)
    assert(rej.isDefined && rej.get.count() === 1L)
    assert(rej.get.select(Id).head().getString(0) === "")
    // untouched sibling alias still serves
    assert(spark.sql("SELECT count(*) FROM gins.view").head().getLong(0) ===
      store.count("view"))
    // INSERT OVERWRITE replaces the index through the same protocol
    spark.sql("INSERT OVERWRITE gins.click SELECT * FROM gins_batch")
    assert(store.count("click") === 2L)
    // DDL is still rejected — lifecycle belongs to the commit protocol
    intercept[Exception](spark.sql("DROP TABLE gins.click"))
    assert(store.aliasExists("click"))
  }

  test("insertInto preserves a bucketed layout; the next in-place merge still works") {
    val (store, _, pipe, _) = freshPipeline()
    val cutoff = "2024-01-15 00:00:00"
    val early = env.where(col(UpdatedAt) < lit(cutoff).cast("timestamp"))
    pipe.fullSyncBucketed(early, Some(Seq("click")), timestamp = "t1", buckets = 8)
    val before = store.count("click")

    // insert two synthetic rows through the SQL-surface path
    val batch = store.read("click").get.drop(store.BucketKey).limit(2)
      .withColumn(Id, concat(lit("ins_"), col(Id)))
    val localBatch = spark.createDataFrame(
      java.util.Arrays.asList(batch.collect(): _*), batch.schema)
    val r = pipe.insertInto("click", localBatch)
    assert(r.mode === "insert" && r.upserts === 2L && r.rejects === 0L)
    assert(store.count("click") === before + 2)
    // layout survived: still bucketed at 8, every row in its id-hash bucket
    val phys = store.aliases()("click")
    assert(store.bucketCountOf(phys) === Some(8))
    assert(store.readPhysical(phys).where(col(store.BucketKey).cast("long") =!=
      pmod(xxhash64(col(Id)), lit(8L))).count() === 0)
    // and the delta-proportional merge path still prunes and applies
    val reports = pipe.incrementalSyncInPlace(env, Some(Seq("click")), buckets = 8)
    assert(reports.head.mode === "incremental")
    assert(store.count("click") > before)
  }

  test("reconcile is a single action for N indexes") {
    val (_, _, pipe, _) = freshPipeline()
    pipe.fullSync(env, None, timestamp = "t1")
    @volatile var actions = 0
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions += 1
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      assert(pipe.reconcile(env,
        Seq("click", "view", "purchase", "signup", "error")).isEmpty)
      eventually(actions >= 1)
      Thread.sleep(200) // allow any extra (unexpected) events to surface
      assert(actions === 1, s"reconcile of 5 indexes ran $actions actions")
    } finally spark.listenerManager.unregister(ql)
  }

  test("failed staging build rolls back (no staged dir, alias unchanged)") {
    val (store, _, pipe, _) = freshPipeline()
    pipe.fullSync(env, Some(Seq("click")), timestamp = "t1")
    val boundBefore = store.aliases()("click")
    val poisoned = env.select(col(Idx), col(Id),
      (col(Document).cast("double") / lit(0)).cast("string").as(Document),
      col(IsDeleted), col(UpdatedAt))
      .where(expr("raise_error('boom') IS NULL") || col(Idx) === "click")
    intercept[Exception] {
      pipe.fullSync(poisoned, Some(Seq("click")), timestamp = "t2")
    }
    assert(store.aliases()("click") == boundBefore)
    assert(!store.indexExists("click_t2"))
  }

  test("swap is idempotent and atomic-manifest based") {
    val (store, _, pipe, _) = freshPipeline()
    pipe.fullSync(env, Some(Seq("view")), timestamp = "t1")
    store.swapAlias("view", "view_t1")
    store.swapAlias("view", "view_t1")
    assert(store.aliases()("view") == "view_t1")
    assert(store.indexExists("view_t1"))
  }

  test("retry policy: backoff sequence and adaptive chunk schedule") {
    var sleeps = Vector.empty[Long]
    val p = RetryPolicy(maxRetries = 3, initialBackoffMs = 30, maxBackoffMs = 200,
      sleep = ms => sleeps :+= ms)
    var calls = 0
    val out = p.retry { () => calls += 1; if (calls < 3) sys.error("transient"); 42 }
    assert(out == 42 && sleeps == Vector(30, 60))
    assert(p.chunkSchedule(500).take(12).toList ==
      List(500, 450, 400, 350, 300, 250, 200, 150, 100, 50, 40, 30))
    assert(p.chunkSchedule(500).last == 1)
    var sizes = Vector.empty[Int]
    val r = p.withAdaptiveChunks(120, reconnectMs = 1) { c =>
      sizes :+= c; if (c > 100) sys.error("too big"); c
    }
    assert(r == 70 && sizes == Vector(120, 70))
  }

  test("watermark store: epoch sentinel, atomic save/load round-trip") {
    val dir = Files.createTempDirectory("graft-wm").toString
    val wms = new WatermarkStore(dir)
    assert(wms.loadOrEpoch() == "0001-01-01 00:00:00")
    wms.save("2024-01-30 23:26:16.220708")
    assert(wms.load().contains("2024-01-30 23:26:16.220708"))
    // per-index: falls back to global, then tracks its own
    assert(wms.loadOrEpoch("click") == "2024-01-30 23:26:16.220708")
    wms.save("click", "2024-02-01 00:00:00.000000")
    assert(wms.loadOrEpoch("click") == "2024-02-01 00:00:00.000000")
    assert(wms.loadOrEpoch("view") == "2024-01-30 23:26:16.220708")
  }

  test("per-index watermarks: a partial sync never skips other indexes' changes") {
    val (store, _, pipe, _) = freshPipeline()
    val cutoff = "2024-01-15 00:00:00"
    val early = env.where(col(UpdatedAt) < lit(cutoff).cast("timestamp"))
    pipe.fullSync(early, None, timestamp = "t1")
    val viewBefore = store.count("view")
    // partial sync of ONLY 'click' over the full data — must not advance
    // 'view''s watermark
    pipe.incrementalSync(env, Some(Seq("click")), timestamp = "t2")
    assert(store.count("view") == viewBefore, "partial sync must not touch view")
    // 'view' still catches up on its own later: nothing was lost
    val r = pipe.incrementalSync(env, Some(Seq("view")), timestamp = "t3")
    assert(r.head.mode == "incremental" && r.head.upserts > 0,
      "view's pre-t2 changes must still be applied")
    assert(pipe.reconcile(env, Seq("click", "view")).isEmpty)
  }

  test("observed merge tallies: report carries upsert/delete counts from one action") {
    val (_, wms, pipe, _) = freshPipeline()
    val cutoff = "2024-01-15 00:00:00"
    val early = env.where(col(UpdatedAt) < lit(cutoff).cast("timestamp"))
    pipe.fullSync(early, None, timestamp = "t1")
    val reports = pipe.incrementalSync(env, None, timestamp = "t2")
    val late = env.where(col(UpdatedAt) >= lit(cutoff).cast("timestamp"))
    for (idx <- Seq("click", "view", "purchase", "signup")) {
      val expectIds = late.where(col(Idx) === idx).select(Id).distinct().count()
      val rep = reports.find(_.index == idx).get
      assert(rep.upserts + rep.deletes >= expectIds ||
        rep.upserts + rep.deletes == expectIds,
        s"$idx tallies ${rep.upserts}+${rep.deletes} vs batch ids $expectIds")
      assert(rep.upserts + rep.deletes == expectIds)
    }
    // tombstone-only 'error' index: everything in the batch is a delete
    val errRep = reports.find(_.index == "error").get
    assert(errRep.deletes > 0 && errRep.upserts == 0)
  }

  test("retry wiring: flaky store write recovers; adaptive chunks degrade (no wall-clock sleeps)") {
    val dir = Files.createTempDirectory("graft-flaky").toString
    var failures = 2
    var writes = Vector.empty[Option[Int]]
    val flaky = new IndexStore(spark, dir) {
      override def writePhysical(name: String, df: org.apache.spark.sql.DataFrame,
          maxRecordsPerFile: Option[Int]): Unit = {
        writes :+= maxRecordsPerFile
        if (failures > 0) { failures -= 1; sys.error("transient store outage") }
        super.writePhysical(name, df, maxRecordsPerFile)
      }
    }
    var sleeps = 0
    val policy = RetryPolicy(maxRetries = 5, initialBackoffMs = 1, maxBackoffMs = 2,
      sleep = _ => sleeps += 1)
    val pipe = new SyncPipeline(flaky, new WatermarkStore(dir), retry = policy,
      writeChunk = Some(500))
    pipe.incrementalSync(env, Some(Seq("click")), timestamp = "t1")
    // both failures retried at chunk 500 (inner retry), then success
    assert(writes.count(_.contains(500)) == 3)
    assert(sleeps == 2)
    assert(flaky.count("click") > 0)

    // chunk-size-sensitive failure: only succeeds once the chunk degrades
    var degWrites = Vector.empty[Int]
    val sizeSensitive = new IndexStore(spark, Files.createTempDirectory("graft-deg").toString) {
      override def writePhysical(name: String, df: org.apache.spark.sql.DataFrame,
          maxRecordsPerFile: Option[Int]): Unit = {
        degWrites :+= maxRecordsPerFile.getOrElse(0)
        if (maxRecordsPerFile.exists(_ > 400)) sys.error("payload too large")
        super.writePhysical(name, df, maxRecordsPerFile)
      }
    }
    val noRetry = RetryPolicy(maxRetries = 0, sleep = _ => ())
    val pipe2 = new SyncPipeline(sizeSensitive, new WatermarkStore(sizeSensitive.root),
      retry = noRetry, writeChunk = Some(500))
    pipe2.incrementalSync(env, Some(Seq("view")), timestamp = "t1")
    assert(degWrites.take(3) == Vector(500, 450, 400), degWrites)
    assert(sizeSensitive.count("view") > 0)
  }

  /** The Spark jobs that wrote records during `body`, with their record
    * counts, once `expect` records in all have been seen. */
  private def recordWritingJobs(expect: Long)(body: => Unit): Map[Int, Long] = {
    val stageToJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val jobsWithOutput = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val w = Option(te.taskMetrics).map(_.outputMetrics.recordsWritten).getOrElse(0L)
        if (w > 0) stageToJob.get(te.stageId).foreach { j =>
          jobsWithOutput.updateWith(j) { v => Some(v.getOrElse(0L) + w) }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      eventually(jobsWithOutput.values.sum == expect)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobsWithOutput.toMap
  }

  test("full sync stages all indexes in ONE write job (single source pass)") {
    val (store, _, pipe, _) = freshPipeline()
    // single-pass staging = exactly one write job with records
    // (empty-index fallbacks write 0 records)
    val expectStaged = env.where(!col(IsDeleted) && col(Idx).isNotNull).count()
    val jobsWithOutput = recordWritingJobs(expectStaged)(pipe.fullSync(env, None, timestamp = "t1"))
    assert(jobsWithOutput.size == 1,
      s"expected ONE record-writing job (single-pass staging), got $jobsWithOutput")
    assert(pipe.reconcile(env, Seq("click", "view", "purchase", "signup")).isEmpty)
    // stage husk removed, all physicals published
    assert(store.physicalIndexes().forall(_.endsWith("_t1")))
  }

  test("bucketed full sync: ONE write job, one file per index and bucket, observed counts") {
    val (store, _, pipe, _) = freshPipeline()
    val live = env.where(!col(IsDeleted) && col(Idx).isNotNull)
    var reports = Seq.empty[graft.sync.IndexSyncReport]
    val jobsWithOutput = recordWritingJobs(live.count()) {
      reports = pipe.fullSyncBucketed(env, None, timestamp = "t1", buckets = 4)
    }
    assert(jobsWithOutput.size == 1,
      s"expected ONE record-writing job (single-pass staging), got $jobsWithOutput")
    assert(reports.map(_.index).toSet === Set("click", "view", "purchase", "signup", "error"))
    for (r <- reports) {
      assert(r.upserts === store.count(r.index), s"report of ${r.index}: $r")
      assert(store.bucketCountOf(r.physical) === Some(4))
      // every bucket a live row hashes to holds exactly one data file
      val want = live.where(col(Idx) === r.index).select(store.bucketExpr(Id, 4))
        .distinct().collect().map(_.getLong(0)).toSet
      val got = want.map { b =>
        val dir = java.nio.file.Paths.get(store.root, r.physical, s"${store.BucketKey}=$b")
        b -> Files.list(dir).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      }.toMap
      assert(got.values.forall(_ == 1), s"files per bucket of ${r.index}: $got")
      val dirs = Files.list(java.nio.file.Paths.get(store.root, r.physical)).iterator().asScala
        .count(_.getFileName.toString.startsWith(store.BucketKey + "="))
      assert(dirs === want.size)
    }
    assert(pipe.reconcile(env, reports.map(_.index)).isEmpty)
    assert(store.physicalIndexes().forall(_.endsWith("_t1")))
  }

  test("a bucketed full sync's Spark job count does not grow with the number of indexes") {
    import spark.implicits._
    def at(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    def syncJobs(n: Int): Int = {
      val (store, _, pipe, _) = freshPipeline()
      // an in-memory source: its non-nullable columns reach the writer
      val source = (for (i <- 0 until n; d <- 0 until 20)
        yield (s"ix$i", s"$i-$d", s"""{"k": $d}""", d == 7, at(d)))
        .toDF(Idx, Id, Document, IsDeleted, UpdatedAt)
      val (reports, jobs) = countingJobs(pipe.fullSyncBucketed(source, None, "t0", buckets = 4))
      assert(reports.map(r => r.index -> r.upserts).toMap === (0 until n).map(i => s"ix$i" -> 19L).toMap)
      assert(reports.forall(r => store.count(r.index) == 19L))
      // the schema memoized at the promote is the one inference gives
      assert(store.read("ix0").get.schema ===
        spark.read.parquet(java.nio.file.Paths.get(store.root, "ix0_t0").toString).schema)
      jobs
    }
    val (two, six) = (syncJobs(2), syncJobs(6))
    assert(two <= 5 && six <= 5, s"jobs per bootstrap: $two at 2 indexes, $six at 6")
    assert(two === six, "the bootstrap's job count grows with the number of indexes")
  }

  test("a requested index absent from the source publishes empty, flat and bucketed") {
    for (buckets <- Seq(None, Some(4))) {
      val (store, _, pipe, _) = freshPipeline()
      val reports = pipe.fullSync(env, Some(Seq("click", "Nowhere")), timestamp = "t1", buckets)
      assert(reports.map(_.index) === Seq("nowhere", "click"), s"smallest first ($buckets)")
      val absent = reports.head
      assert(absent.mode === "full" && absent.upserts === 0L && absent.rejects === 0L)
      assert(store.aliases().get("nowhere") === Some("nowhere_t1"))
      assert(store.count("nowhere") === 0L)
      assert(store.bucketCountOf("nowhere_t1") === buckets)
      assert(reports(1).upserts === store.count("click") && store.count("click") > 0)
    }
  }

  test("parallel publish of the largest indexes gives the same final state") {
    // an incremental sync publishes index by index (a full sync's publish
    // is renames only, with nothing to run in parallel)
    val (storeA, _, _, _) = freshPipeline()
    val pipeSeq = new SyncPipeline(storeA, new WatermarkStore(storeA.root),
      parallelLargest = 0)
    pipeSeq.incrementalSync(env, None, timestamp = "t1")
    val (storeB, _, _, _) = freshPipeline()
    val pipePar = new SyncPipeline(storeB, new WatermarkStore(storeB.root),
      parallelLargest = 2)
    pipePar.incrementalSync(env, None, timestamp = "t1")
    for (idx <- Seq("click", "view", "purchase", "signup", "error")) {
      assert(storeA.count(idx) == storeB.count(idx), s"count differs for $idx")
      assert(storeA.aliases().get(idx) == storeB.aliases().get(idx))
    }
  }

  test("drift gate: a pending update to the probe doc is NOT drift; true drift forces rebuild") {
    val (store, wms, pipe, _) = freshPipeline()
    pipe.fullSync(env, Some(Seq("click")), timestamp = "t1")
    // pending batch rewrites doc 0's k value with a later updated_at —
    // an ordinary update, not schema drift
    val minId = store.read("click").get.agg(min(col(Id))).collect()(0).getString(0)
    val bumped = env.where(col(Idx) === "click")
      .withColumn(Document,
        when(col(Id) === minId, lit("""{"k": 999999}""")).otherwise(col(Document)))
      .withColumn(UpdatedAt,
        when(col(Id) === minId, lit("2030-01-01 00:00:00").cast("timestamp"))
          .otherwise(col(UpdatedAt)))
    val r = pipe.incrementalSync(bumped, Some(Seq("click")), timestamp = "t2")
    assert(r.head.mode == "incremental",
      "a pending update to the probe doc must not be misclassified as drift")
    // true drift: stored probe doc's field differs and is NOT in the batch
    val (store2, _, pipe2, _) = freshPipeline()
    pipe2.fullSync(env, Some(Seq("click")), timestamp = "t1")
    val rewired = env.where(col(Idx) === "click")
      .withColumn(Document,
        when(col(Id) === minId, lit("""{"k": 777}""")).otherwise(col(Document)))
    // minId's updated_at is unchanged → excluded from batch → real drift
    val r2 = pipe2.incrementalSync(rewired, Some(Seq("click")), timestamp = "t2")
    assert(r2.head.mode == "full", "out-of-band probe change must force a rebuild")
  }

  test("registered views expose synced indexes to SQL; swap repoints them") {
    val (store, _, pipe, _) = freshPipeline()
    pipe.fullSync(env, Some(Seq("click", "view")), timestamp = "t1")
    val views = store.registerViews()
    assert(views.toSet == Set("graft_click", "graft_view"))
    val viaSql = spark.sql("SELECT count(*) AS n FROM graft_click").collect()(0).getLong(0)
    assert(viaSql == store.count("click") && viaSql > 0)
    // swap to a new physical index, re-register → reader sees new data
    store.writePhysical("click_t2", env.where(col(Idx) === "click").limit(3)
      .select(Idx, Id, Document, IsDeleted))
    store.swapAlias("click", "click_t2")
    store.registerViews()
    assert(spark.sql("SELECT count(*) FROM graft_click").collect()(0).getLong(0) == 3)
  }

  test("in-place bucketed incremental: same end state, untouched buckets byte-stable, emptied buckets dropped") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    // late cutoff → small delta → only SOME of the 16 buckets affected
    val cutoff = "2024-01-29 00:00:00"
    val early = env.where(col(UpdatedAt) < lit(cutoff).cast("timestamp"))
    // blue/green path as the truth
    val (storeA, _, pipeA, _) = freshPipeline()
    pipeA.fullSync(early, Some(Seq("click")), timestamp = "t1")
    pipeA.incrementalSync(env, Some(Seq("click")), timestamp = "t2")
    // in-place bucketed path
    val (storeB, _, pipeB, _) = freshPipeline()
    pipeB.fullSyncBucketed(early, Some(Seq("click")), timestamp = "t1", buckets = 16)
    val phys = storeB.aliases()("click")
    // snapshot per-bucket file states before the merge
    def bucketFiles(b: Long): Seq[(String, Long)] = {
      val dir = Paths.get(storeB.root, phys, s"${storeB.BucketKey}=$b")
      if (!JFiles.isDirectory(dir)) Seq.empty
      else {
        val s = JFiles.list(dir)
        try s.iterator().asScala.map(p =>
          (p.getFileName.toString, JFiles.getLastModifiedTime(p).toMillis)).toSeq.sorted
        finally s.close()
      }
    }
    val before = (0L until 16L).map(b => b -> bucketFiles(b)).toMap
    val affected = IndexerOps.incrementalScan(env, Seq("click"),
        new WatermarkStore(storeB.root).loadOrEpoch("click"))
      .select(storeB.bucketExpr(Id, 16).as("b")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(affected.nonEmpty && affected.size < 16,
      s"need a partial-bucket delta for a meaningful test, got ${affected.size}/16")
    val rep = pipeB.incrementalSyncInPlace(env, Some(Seq("click")), buckets = 16)
    assert(rep.head.mode == "incremental")
    // end state identical to blue/green
    val a = storeA.read("click").get.select(Id, Document).orderBy(Id).collect()
    val b = storeB.read("click").get.select(Id, Document).orderBy(Id).collect()
    assert(a.sameElements(b), "in-place end state diverges from blue/green")
    // untouched buckets: identical files, untouched mtimes
    (0L until 16L).filterNot(affected).foreach { bkt =>
      assert(bucketFiles(bkt) === before(bkt), s"unaffected bucket $bkt was rewritten")
    }
    // affected buckets changed
    assert(affected.exists(bkt => bucketFiles(bkt) != before(bkt)))
    // second run: nothing to do
    assert(pipeB.incrementalSyncInPlace(env, Some(Seq("click")), buckets = 16)
      .forall(_.mode == "skipped"))
  }

  test("in-place merge drops a bucket emptied by tombstones") {
    val (store, wms, pipe, _) = freshPipeline()
    // state with exactly one live doc in its own bucket
    val one = env.where(!col(IsDeleted)).limit(1)
      .select(col(Idx), col(Id), col(Document), col(IsDeleted), col(UpdatedAt))
    pipe.fullSyncBucketed(one.select(Idx, Id, Document, IsDeleted, UpdatedAt),
      Some(Seq(one.collect()(0).getString(0))), timestamp = "t1", buckets = 4)
    val idx = one.collect()(0).getString(0)
    val id = one.collect()(0).getString(1)
    assert(store.count(idx) === 1)
    // tombstone it later
    wms.save(idx, "2024-06-01 00:00:00.000000")
    val tomb = one
      .withColumn(IsDeleted, lit(true))
      .withColumn(UpdatedAt, lit("2024-07-01 00:00:00").cast("timestamp"))
    val rep = pipe.incrementalSyncInPlace(tomb, Some(Seq(idx)), buckets = 4)
    assert(rep.head.deletes === 1L)
    assert(store.count(idx) === 0, s"tombstoned doc $id must vanish from $idx")
  }

  test("recoverBuckets restores a backup stranded mid-swap; data never lost") {
    val (store, _, pipe, _) = freshPipeline()
    pipe.fullSyncBucketed(env, Some(Seq("click")), timestamp = "t1", buckets = 4)
    val phys = store.aliases()("click")
    val before = store.count("click")
    // simulate a crash between backup-aside and move-in: bucket 0's live
    // dir was moved to a _bak_ dir and the staged copy never arrived
    val live = java.nio.file.Paths.get(store.root, phys, s"${store.BucketKey}=0")
    val bak = java.nio.file.Paths.get(store.root, s"_bak_123_${phys}_0")
    java.nio.file.Files.move(live, bak)
    assert(store.count("click") < before, "precondition: bucket missing")
    val actions = store.recoverBuckets()
    assert(actions.exists(_.startsWith("restored")), actions.toString)
    assert(store.count("click") === before, "recovery must restore the bucket")
    // a backup whose swap COMPLETED (live dir present) is dropped
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(store.root, s"_bak_456_${phys}_1"))
    assert(store.recoverBuckets().exists(_.startsWith("dropped")))
  }

  test("replaceBuckets recovers sidelined buckets in-process when a swap step fails") {
    val dir = Files.createTempDirectory("graft-sync").toString
    // store whose FIRST backup-drop throws: the failure lands after a
    // bucket swap completed, with its _bak_ dir still on disk
    var poisoned = true
    val store = new IndexStore(spark, dir) {
      override def deletePhysical(name: String): Unit = {
        if (poisoned && name.startsWith("_bak_")) {
          poisoned = false; sys.error("fs outage dropping backup")
        }
        super.deletePhysical(name)
      }
    }
    val wms = new WatermarkStore(dir)
    val pipe = new SyncPipeline(store, wms)
    val cutoff = "2024-01-15 00:00:00"
    pipe.fullSyncBucketed(env.where(col(UpdatedAt) < lit(cutoff).cast("timestamp")),
      Some(Seq("click")), timestamp = "t1", buckets = 4)
    intercept[Exception] {
      pipe.incrementalSyncInPlace(env, Some(Seq("click")), buckets = 4)
    }
    // the catch-path recoverBuckets ran: no sidelined bucket remains, so
    // THIS process serves a complete (if mid-merge) index immediately
    assert(!store.physicalIndexes().exists(_.startsWith("_bak_")))
    val bakDirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("_bak_")).toList
    assert(bakDirs.isEmpty, s"stranded backups after in-process recovery: $bakDirs")
    // a retry converges to the exact expected end state (idempotent merge)
    pipe.incrementalSyncInPlace(env, Some(Seq("click")), buckets = 4)
    val want = env.where(col(Idx) === "click" && !col(IsDeleted))
      .select(Id).distinct().count()
    assert(store.count("click") === want)
  }

  test("store bootstrap reclaims stranded _merge_/_stage_ dirs past the grace, keeps checkpoints and fresh stages") {
    val dir = Files.createTempDirectory("graft-sync").toString
    for (stale <- Seq("_merge_click_123", "_stage_t9", "_checkpoints", "_stage_live")) {
      Files.createDirectories(java.nio.file.Paths.get(dir, stale))
      Files.writeString(java.nio.file.Paths.get(dir, stale, "junk"), "x")
    }
    // age two dirs past the grace; "_stage_live" stays fresh (another
    // process's in-flight publish must survive a concurrent bootstrap)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    for (aged <- Seq("_merge_click_123", "_stage_t9")) {
      // the staleness check ages by the NEWEST mtime in the tree, so the
      // whole tree must be old, not just the top dir
      Files.setLastModifiedTime(java.nio.file.Paths.get(dir, aged, "junk"), old)
      Files.setLastModifiedTime(java.nio.file.Paths.get(dir, aged), old)
    }
    val store = new IndexStore(spark, dir)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_merge_click_123")),
      "stale merge stage must be reclaimed at bootstrap")
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_stage_t9")),
      "stale full-sync stage must be reclaimed at bootstrap")
    assert(Files.exists(java.nio.file.Paths.get(dir, "_checkpoints", "junk")),
      "streaming checkpoints must survive bootstrap cleanup")
    assert(Files.exists(java.nio.file.Paths.get(dir, "_stage_live", "junk")),
      "a fresh stage (possibly another writer's) must survive bootstrap cleanup")
    assert(store.cleanupStaleStages().isEmpty)
    // zero-grace store reclaims the fresh one too
    new IndexStore(spark, dir, staleStageGraceMs = 0L)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_stage_live")))
  }

  test("stage cleanup survives entries vanishing mid-walk (concurrent writer)") {
    // a broken symlink makes getLastModifiedTime throw NoSuchFileException
    // — the same failure a concurrent promote/drop produces when an entry
    // vanishes between the walk listing it and the mtime read. Bootstrap
    // must not crash, and the unreadable entry must read as FRESH (a live
    // writer), so the stage survives even past the grace.
    val dir = Files.createTempDirectory("graft-sync").toString
    val stage = java.nio.file.Paths.get(dir, "_stage_inflight")
    Files.createDirectories(stage)
    Files.writeString(stage.resolve("junk"), "x")
    Files.createSymbolicLink(stage.resolve("vanished"),
      java.nio.file.Paths.get(dir, "no-such-target"))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    Files.setLastModifiedTime(stage.resolve("junk"), old)
    Files.setLastModifiedTime(stage, old)
    val store = new IndexStore(spark, dir) // must not throw
    assert(Files.exists(stage.resolve("junk")),
      "a stage with an unreadable entry must be treated as live, not reclaimed")
    assert(store.cleanupStaleStages().isEmpty)
  }

  test("quarantines outlive the next publish; reclamation is explicit") {
    val dir = Files.createTempDirectory("graft-sync").toString
    val store = new IndexStore(spark, dir)
    val pipe = new SyncPipeline(store, new WatermarkStore(dir),
      validity = Some(length(trim(col(Id))) > 0))
    def poison(ts: String) = env.limit(1).select(
      lit("click").as(Idx), lit("").as(Id), lit("""{"k":"x"}""").as(Document),
      lit(false).as(IsDeleted), lit(ts).cast("timestamp").as(UpdatedAt))
    val feed = env.where(col(Idx) === "click").unionByName(poison("2024-01-02 00:00:00"))
    pipe.fullSync(feed, Some(Seq("click")), timestamp = "t1")
    val phys1 = store.aliases()("click")
    assert(store.rejected(phys1).get.count() === 1L)
    // a SECOND successful publish drops the old index's data but must
    // retain its quarantine: on an hourly pipeline a one-cycle window
    // would destroy reject rows before anyone inspects them
    pipe.fullSync(feed, Some(Seq("click")), timestamp = "t2")
    assert(!store.indexExists(phys1), "old physical data is superseded")
    assert(store.rejected(phys1).get.count() === 1L,
      "the superseded sync's quarantine must survive the swap")
    assert(store.rejectedIndexes().toSet === Set(phys1, store.aliases()("click")))
    // reclamation is an explicit act, per quarantine
    store.dropRejected(phys1)
    assert(store.rejected(phys1).isEmpty)
    assert(store.rejectedIndexes() === Seq(store.aliases()("click")))
  }

  test("bucket compaction: one file per bucket, content byte-identical, merges still work") {
    val (store, _, pipe, _) = freshPipeline()
    val cutoff = "2024-01-15 00:00:00"
    val early = env.where(col(UpdatedAt) < lit(cutoff).cast("timestamp"))
    pipe.fullSyncBucketed(early, Some(Seq("click")), timestamp = "t1", buckets = 4)
    val phys = store.aliases()("click")
    // fragment the buckets the way a large merge does: the staged
    // partitionBy write emits one file per (task, bucket), so a
    // multi-task merge frame leaves several files in every bucket dir
    // (at fixture scale AQE coalesces real merges to one task — force
    // the multi-task shape through the same writer)
    store.replaceBuckets(phys,
      store.readPhysical(phys).repartition(6), Seq(0L, 1L, 2L, 3L))
    def filesPerBucket: Map[String, Int] = {
      val root = java.nio.file.Paths.get(store.root, phys)
      Files.list(root).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(store.BucketKey + "="))
        .map { p =>
          p.getFileName.toString ->
            Files.list(p).iterator().asScala
              .count(_.getFileName.toString.endsWith(".parquet"))
        }.toMap
    }
    assert(filesPerBucket.values.exists(_ > 1),
      "merges produced no multi-file bucket; compaction test is vacuous")
    val before = store.read("click").get.orderBy(Id).collect().toSeq
    val compacted = pipe.compactIndex("click")
    assert(compacted > 0)
    assert(filesPerBucket.values.forall(_ === 1),
      s"compaction left multi-file buckets: $filesPerBucket")
    assert(store.read("click").get.orderBy(Id).collect().toSeq === before,
      "compaction changed content")
    // the layout still merges and prunes afterwards
    pipe.incrementalSyncInPlace(env, Some(Seq("click")), buckets = 4)
    val want = env.where(col(Idx) === "click" && !col(IsDeleted))
      .select(Id).distinct().count()
    assert(store.count("click") === want)
  }

  test("index stats: rows/bytes/files/buckets/skew reported; skew 1.0 when even") {
    val (store, _, pipe, _) = freshPipeline()
    pipe.fullSyncBucketed(env, Some(Seq("click")), timestamp = "t1", buckets = 4)
    pipe.fullSync(env, Some(Seq("view")), timestamp = "t1")
    val bucketed = store.stats("click").get
    assert(bucketed.rows === store.count("click"))
    assert(bucketed.bytes > 0 && bucketed.files > 0)
    assert(bucketed.buckets === Some(4))
    val skew = bucketed.bucketSkew.get
    assert(skew >= 1.0 && skew < 4.0, s"implausible skew $skew for an id-hash layout")
    val flat = store.stats("view").get
    assert(flat.buckets.isEmpty && flat.bucketSkew.isEmpty)
    assert(flat.rows === store.count("view"))
    assert(store.stats("nope").isEmpty)
  }

  test("an in-place round's Spark job count does not grow with the number of indexes") {
    import spark.implicits._
    def at(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    /** Jobs of one in-place round over a bucketed store of `n` indexes
      * of which only `ix0` changed; the source is read before counting. */
    def roundJobs(n: Int): Int = {
      val (_, _, pipe, _) = freshPipeline()
      val src = Files.createTempDirectory("graft-jobs").resolve("source").toString
      (for (i <- 0 until n; d <- 0 until 20)
        yield (s"ix$i", s"$i-$d", s"""{"k": $d}""", false, at(d)))
        .toDF(Idx, Id, Document, IsDeleted, UpdatedAt).write.parquet(src)
      pipe.fullSyncBucketed(spark.read.parquet(src), None, "t0", buckets = 4)
      (0 until 10).map(d => ("ix0", s"0-$d", s"""{"k": ${100 + d}}""", d % 5 == 0, at(100 + d)))
        .toDF(Idx, Id, Document, IsDeleted, UpdatedAt).write.mode("append").parquet(src)
      val source = spark.read.parquet(src)
      val (reports, jobs) = countingJobs(pipe.incrementalSyncInPlace(source, None, buckets = 4))
      assert(reports.map(r => r.index -> r.mode).toMap ===
        (0 until n).map(i => s"ix$i" -> (if (i == 0) "incremental" else "skipped")).toMap)
      jobs
    }
    val (two, six) = (roundJobs(2), roundJobs(6))
    assert(two <= 6 && six <= 6, s"jobs per round: $two at 2 indexes, $six at 6")
    assert(two === six, "the round's job count grows with the number of indexes")
  }

  test("a lookup of an index read once before runs one Spark job") {
    val (store, _, pipe, _) = freshPipeline()
    pipe.fullSyncBucketed(env, Some(Seq("click")), timestamp = "t1", buckets = 4)
    store.count("click") // the index's first read
    val ids = store.read("click").get.select(Id).limit(3).collect().map(_.getString(0))
    val (rows, jobs) = countingJobs(
      store.read("click").get.where(col(Id).isin(ids: _*)).collect())
    assert(rows.map(_.getAs[String](Id)).toSet === ids.toSet)
    assert(jobs === 1, s"a lookup ran $jobs jobs")
  }

  test("every store write path reads back with the schema a fresh inference gives") {
    val dir = Files.createTempDirectory("graft-sync").toString
    val store = new IndexStore(spark, dir)
    val pipe = new SyncPipeline(store, new WatermarkStore(dir),
      validity = Some(length(trim(col(Id))) > 0))
    /** `df` has the schema and rows of a fresh inferred read of `physical`. */
    def freshlyInferred(df: org.apache.spark.sql.DataFrame, physical: String,
        what: String): Unit = {
      val fresh = spark.read.parquet(java.nio.file.Paths.get(dir, physical).toString)
      assert(df.schema === fresh.schema, what)
      assert(df.exceptAll(fresh).isEmpty && fresh.exceptAll(df).isEmpty, what)
    }
    def aliasReads(alias: String, what: String): Unit =
      freshlyInferred(store.read(alias).get, store.aliases()(alias), what)
    def poison(ts: String) = env.limit(1).select(
      lit("click").as(Idx), lit(" ").as(Id), lit("""{"k":"p"}""").as(Document),
      lit(false).as(IsDeleted), lit(ts).cast("timestamp").as(UpdatedAt))
    val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
    val early = env.where(col(UpdatedAt) < cutoff)

    pipe.fullSync(early, Some(Seq("view")), timestamp = "t1")
    aliasReads("view", "fullSync (flat)")
    pipe.fullSyncBucketed(early.unionByName(poison("2024-01-02 00:00:00")),
      Some(Seq("click")), timestamp = "t1", buckets = 4)
    aliasReads("click", "fullSyncBucketed")
    assert(store.read("click").get.columns.contains(store.BucketKey))
    val quarantine = store.aliases()("click")
    freshlyInferred(store.rejected(quarantine).get, s"${store.RejectPrefix}$quarantine",
      "bootstrap quarantine")
    // the round adds a second batch dir under the same quarantine
    pipe.incrementalSyncInPlace(env.unionByName(poison("2024-03-01 00:00:00")),
      Some(Seq("click")), buckets = 4)
    aliasReads("click", "in-place merge")
    assert(store.rejected(quarantine).get.count() === 2L)
    freshlyInferred(store.rejected(quarantine).get, s"${store.RejectPrefix}$quarantine",
      "quarantine after a round")

    // INSERT OVERWRITE with a column the envelope lacks
    for (alias <- Seq("view", "click")) {
      val extra = store.read(alias).get.drop(store.BucketKey).limit(5)
        .withColumn("note", lit("extra"))
      pipe.insertInto(alias, spark.createDataFrame(
        java.util.Arrays.asList(extra.collect(): _*), extra.schema), overwrite = true)
      aliasReads(alias, s"insertInto $alias with an extra column")
      assert(store.read(alias).get.columns.contains("note"))
    }
    pipe.rescaleBuckets("click", to = 8, timestamp = "t2")
    aliasReads("click", "rescaleBuckets")
    pipe.compactIndex("click")
    aliasReads("click", "compactIndex")

    store.registerCatalog("gschema")
    val physical = store.aliases()("click")
    freshlyInferred(spark.sql("SELECT * FROM gschema.click"), physical, "catalog SELECT")

    // a second store on the same root rewrites the physical index the
    // first one has read: the first must read the new columns and rows
    val other = new IndexStore(spark, dir)
    other.writePhysical(physical, early.where(col(Idx) === "click").withColumn("rev", lit(2)))
    other.swapAlias("click", physical)
    aliasReads("click", "republished by another store")
    assert(store.read("click").get.columns.contains("rev"))
    freshlyInferred(spark.sql("SELECT * FROM gschema.click"), physical,
      "catalog SELECT after the republish")
  }

  test("in-place merge read prunes to affected bucket partitions") {
    val (store, _, pipe, _) = freshPipeline()
    pipe.fullSyncBucketed(env, Some(Seq("view")), timestamp = "t1", buckets = 16)
    val phys = store.aliases()("view")
    val pruned = store.readPhysical(phys)
      .where(col(store.BucketKey).isin(0L, 1L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("_id_bucket#") || plan.contains("_id_bucket IN")),
      s"bucket filter must prune partitions:\n${plan.take(1500)}")
    val full = store.readPhysical(phys).count()
    assert(pruned.count() < full)
  }

  test("progress listener fires at record intervals during a store write") {
    val (store, _, _, _) = freshPipeline()
    var ticks = Vector.empty[Long]
    val l = new graft.sync.ProgressListener(100, ticks :+= _)
    spark.sparkContext.addSparkListener(l)
    try {
      store.writePhysical("plisten_t1", env.limit(450))
      eventually(l.recordsWritten == 450)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(l.recordsWritten == 450)
    assert(ticks.nonEmpty && ticks == ticks.sorted,
      s"expected monotone progress ticks, got $ticks")
  }
}
