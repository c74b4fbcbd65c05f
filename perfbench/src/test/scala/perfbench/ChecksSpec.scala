package perfbench

import graft.sync.{IndexStore, SyncPipeline, WatermarkStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite with LocalSpark {

  private def freshStore() = {
    val root = java.nio.file.Files.createTempDirectory("perfbench-checks").toString
    val store = new IndexStore(spark, root)
    (store, new SyncPipeline(store, new WatermarkStore(s"$root/_wm")))
  }

  test("the store check passes a synced store and fails a corrupted index") {
    val env = Gen.envelope(spark, 1, 2000, 2).cache()
    val (store, pipeline) = freshStore()
    pipeline.fullSync(env, None, "t0")
    val want = Checks.expectedLatest(env)
    assert(Checks.storeMatches(store, Gen.Indexes, want).isEmpty)

    // one document edited in place of the published index; the rows are
    // copied out first because a swap drops the physical index it replaces
    val published = store.read("works").get
    val live = spark.createDataFrame(
      java.util.Arrays.asList(published.collect(): _*), published.schema)
    val victim = live.select(min("id")).head().getString(0)
    store.writePhysical("works_edited", live.withColumn("document",
      when(col("id") === victim, concat(col("document"), lit(" "))).otherwise(col("document"))))
    store.swapAlias("works", "works_edited")
    val edited = Checks.storeMatches(store, Gen.Indexes, want)
    assert(edited.size == 1 && edited.head.contains("index works"), edited)

    // one document lost
    store.writePhysical("works_short", live.where(col("id") =!= victim))
    store.swapAlias("works", "works_short")
    assert(Checks.storeMatches(store, Gen.Indexes, want).nonEmpty)
  }

  test("the expected CDC state keeps each id's latest version and drops tombstones") {
    val s = spark
    import s.implicits._
    val src = Seq(
      ("a", "1", "v0", false, 1L), ("a", "1", "v1", false, 2L),
      ("a", "2", "v0", false, 1L), ("a", "2", "v1", true, 3L),
      ("a", "3", "v0", true, 1L), ("b", "4", "v0", false, 5L))
      .toDF("idx", "id", "document", "is_deleted", "t")
      .withColumn("updated_at", timestamp_seconds(col("t")))
    val want = Checks.digest(Seq(("a", "1", "v1"), ("b", "4", "v0")).toDF("idx", "id", "document"))
    assert(Checks.expectedLatest(src) == want)
  }

  test("the in-memory CDC model equals the expected state computed from the source") {
    val seed = 4L
    val src = Gen.envelope(spark, seed, 3000, 2)
    val live = new Gen.LiveIds(seed, 3000, 0)
    val model = Gen.liveDocs(seed, 3000, live)
    val batches = (0 until 3).map { r => val b = Gen.cdcBatch(seed, r, 200, live); Gen.applyBatch(model, b); b }
    val all = batches.map(b => Gen.changesFrame(spark, b)).foldLeft(src)(_ union _)
    val s = spark
    import s.implicits._
    val modelDigest = Checks.digest(model.toSeq.map { case (id, d) => (Gen.Indexes(0), id, d) }
      .toDF("idx", "id", "document"))
    assert(Checks.expectedLatest(all.where(col("idx") === Gen.Indexes(0))) == modelDigest)
  }

  test("the row check names missing, extra and stale documents") {
    val want = Map("a" -> "1", "b" -> "2")
    assert(Checks.rowsMatch("lookup", Seq("a" -> "1", "b" -> "2"), want).isEmpty)
    assert(Checks.rowsMatch("lookup", Seq("a" -> "1"), want).exists(_.contains("missed 1")))
    assert(Checks.rowsMatch("lookup", Seq("a" -> "1", "b" -> "2", "c" -> "3"), want).exists(_.contains("not live")))
    assert(Checks.rowsMatch("lookup", Seq("a" -> "1", "b" -> "x"), want).exists(_.contains("stale")))
  }

  test("the search check wants ranks 1..k for every query") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, 1, 10L), (1L, 2, 11L), (2L, 1, 10L))
      .toDF("query_id", "rn", "doc_id").collect().toSeq
    assert(Checks.searchShape(rows, Seq(1L), 2).exists(_.contains("unknown query 2")))
    assert(Checks.searchShape(rows, Seq(1L, 2L), 2) == Seq("query 2 returned ranks 1"))
    assert(Checks.searchShape(rows.take(2), Seq(1L), 2).isEmpty)
  }
}
