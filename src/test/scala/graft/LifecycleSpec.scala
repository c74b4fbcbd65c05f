package graft

import java.nio.file.Files
import graft.sources.Tables
import graft.sources.Tables._
import graft.streaming.StreamingCdc
import graft.sync.{IndexStore, SyncPipeline, WatermarkStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One full operational journey through the engine — the reference's
  * production lifecycle (flows/main_flow.py §3.1) end to end:
  * bootstrap full sync → SQL views → incremental with tombstones →
  * streaming catch-up on the same store → reconcile clean throughout. */
class LifecycleSpec extends AnyFunSuite with SparkSpec {

  test("full lifecycle: bootstrap, serve, increment, stream, reconcile") {
    val root = Files.createTempDirectory("graft-life").toString
    val store = new IndexStore(spark, root)
    val wms = new WatermarkStore(root)
    val pipe = new SyncPipeline(store, wms)
    val indexes = Seq("click", "view", "purchase", "signup")

    val cutoff = "2024-01-15 00:00:00"
    val full = Tables.envelope(spark, sf)
    val early = full.where(col(UpdatedAt) < lit(cutoff).cast("timestamp"))

    // 1. bootstrap: bucketed blue/green full sync of the early slice
    val boot = pipe.fullSyncBucketed(early, Some(indexes), timestamp = "t1", buckets = 8)
    assert(boot.map(_.mode).forall(_ == "full"))
    assert(pipe.reconcile(early, indexes).isEmpty)

    // 2. serve: synced indexes queryable from SQL
    store.registerViews()
    val served = spark.sql(
      "SELECT count(*) FROM graft_click").collect()(0).getLong(0)
    assert(served === store.count("click"))

    // 3. increment: merge post-cutoff changes in place, incl. tombstones
    val inc = pipe.incrementalSyncInPlace(full, Some(indexes), buckets = 8)
    assert(inc.forall(r => r.mode == "incremental" || r.mode == "skipped"))
    assert(pipe.reconcile(full, indexes).isEmpty)

    // 4. nothing to do → skip (P11)
    assert(pipe.incrementalSyncInPlace(full, Some(indexes), buckets = 8)
      .forall(_.mode == "skipped"))

    // 5. streaming catch-up over the SAME store: new late events arrive
    //    as a file; the streaming CDC path merges them in place
    val feed = Files.createTempDirectory("graft-life-feed")
    val late = Tables.events(spark, sf)
      .withColumn("ts", col("ts") + expr("INTERVAL 60 DAYS"))
      .withColumn("event_id", col("event_id") + 1000000L)
    late.coalesce(1).write.mode("overwrite").parquet(feed.toString)
    val cdc = new StreamingCdc(store, wms)
    val batches = cdc.syncAvailable(spark, feed.toString, indexes, "t4",
      maxFilesPerTrigger = 10)
    assert(batches >= 1)
    val lateEnv = Tables.envelope(Tables.normalizeTs(spark.read.parquet(feed.toString)))

    // 6. final audit: store state = early-live ∪ incremental ∪ late-live
    indexes.foreach { idx =>
      val expected =
        full.where(col(Idx) === idx && !col(IsDeleted)).select(Id)
          .union(lateEnv.where(col(Idx) === idx && !col(IsDeleted)).select(Id))
          .distinct().count()
      assert(store.count(idx) === expected, s"final state wrong for $idx")
    }
    // views track the latest swap after re-registration
    store.registerViews()
    assert(spark.sql("SELECT count(*) FROM graft_click").collect()(0).getLong(0)
      === store.count("click"))
  }
}
