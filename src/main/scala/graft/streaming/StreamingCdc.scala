package graft.streaming

import graft.operators.IndexerOps
import graft.sources.Tables
import graft.sources.Tables._
import graft.sync.{InPlaceMerge, IndexStore, WatermarkStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming form of the reference's continuous incremental
  * sync (T1/T2 streaming; reference flows/main_flow.py:316-333,366-395):
  * `readStream` over the envelope source, event-time watermark on
  * `updated_at`, `foreachBatch` → id-keyed CDC merge into the
  * [[IndexStore]], `Trigger.AvailableNow` for catch-up runs.
  *
  * The streaming pieces replace the reference's hand-rolled machinery
  * 1:1: the checkpoint location persists source offsets (T2/T7 — the
  * reference's `save_last_run_config` + cursor `scroll` resume), task
  * re-execution over idempotent id-keyed merges replaces manual
  * reconnect bookkeeping, and `maxFilesPerTrigger` bounds a micro-batch
  * (T5, the reference's `db_batch_size`).
  *
  * Scale notes: each micro-batch runs the same declarative merge plan as
  * the batch path (shuffle on `id` only, broadcastable when the batch is
  * small); state never accumulates in the stream itself — the store IS
  * the state, so executor memory is flat regardless of run length.
  */
/** @param bucketed when Some(n): micro-batches merge IN PLACE into
  *   id-hash-bucketed physical indexes (delta-proportional cost — see
  *   [[InPlaceMerge]]); indexes must be bootstrapped via
  *   `SyncPipeline.fullSyncBucketed`. When None (default): each batch
  *   publishes blue/green (atomic, whole-index rewrite).
  * @param validity when set: per-record error tolerance, the same K1
  *   semantics as the batch pipeline — each micro-batch's poison rows
  *   (predicate false OR NULL) land in the alias's quarantine dir
  *   (`_rejects_<alias>`, read via `store.rejected(alias)`) instead of
  *   merging, and never fail the batch. Scope: rows with a NULL event
  *   time are outside the CDC domain entirely — the watermark predicate
  *   `updated_at >= W` excludes them exactly as the reference's
  *   incremental SQL does (flows/main_flow.py:317-333) — so they
  *   surface only in FULL syncs, where the validity predicate can
  *   quarantine them. Quarantine slices are per checkpoint lineage: a
  *   rerun under a NEW timestamp reprocesses the source from offset
  *   zero (merges stay idempotent by id) and re-quarantines its own
  *   poison slices alongside the previous lineage's. */
class StreamingCdc(store: IndexStore, watermarks: WatermarkStore,
    bucketed: Option[Int] = None,
    validity: Option[org.apache.spark.sql.Column] = None) {

  /** The envelope relation as a stream (file source standing in for a
    * CDC feed; schema pinned from a batch probe of the same source). */
  def envelopeStream(spark: SparkSession, sourceDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(sourceDir).schema
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    Tables.envelope(Tables.normalizeTs(raw))
  }

  /** Run the streaming CDC sync to completion of available data
    * (`Trigger.AvailableNow`): every micro-batch merges into the store
    * per index via the same [[IndexerOps.cdcMerge]] as the batch path,
    * publishing blue/green per batch. Returns the number of micro-
    * batches processed. */
  def syncAvailable(spark: SparkSession, sourceDir: String,
      indexes: Seq[String], timestamp: String,
      maxFilesPerTrigger: Int = 1, lateness: String = "1 hour"): Long = {
    // watermarks are PER INDEX (a single global mark would let a partial
    // sync silently skip other indexes' changes — ADVICE r1); the stream
    // pre-filters at the MINIMUM selected watermark (safe for all), and
    // each index applies its own exact mark per micro-batch.
    val wms = indexes.map(i => i -> watermarks.loadOrEpoch(i)).toMap
    val wmMin = wms.values.min
    val env = envelopeStream(spark, sourceDir, maxFilesPerTrigger)
      .where(col(Idx).isin(indexes: _*) &&
        col(UpdatedAt) >= lit(wmMin).cast("timestamp"))
      .withWatermark(UpdatedAt, lateness)

    // distinct ids, not an invocation counter: a checkpoint replay of an
    // already-seen batchId re-invokes foreachBatch but must not
    // double-count in the returned total
    val seen = scala.collection.mutable.Set.empty[Long]
    val hwms = scala.collection.concurrent.TrieMap.empty[String, String]
    val query: StreamingQuery = env.writeStream
      .option("checkpointLocation",
        s"${store.root}/_checkpoints/cdc_$timestamp")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMicroBatch(batch, indexes, wms, s"${timestamp}_b$batchId", hwms)
        seen.synchronized { seen += batchId }
        onBatchProcessed(batchId)
      }
      .start()
    query.awaitTermination()
    // Persist per-index marks accumulated from PROCESSED micro-batches
    // only. Re-reading the source dir here instead would also see files
    // that landed AFTER the stream's offset snapshot — advancing the
    // watermark past data never merged, and the next run's `>=` filter
    // would skip it forever (ADVICE r2). Marks only move forward; indexes
    // absent from every batch keep theirs.
    hwms.foreach { case (idx, hwm) =>
      if (hwm > wms.getOrElse(idx, "")) watermarks.save(idx, hwm)
    }
    seen.size.toLong
  }

  /** Test seam: invoked after each committed micro-batch (lets specs
    * simulate files landing while the stream is mid-run). */
  protected def onBatchProcessed(batchId: Long): Unit = ()

  /** One micro-batch: per index present in the batch, latest-per-id CDC
    * merge over current state, staged + atomically published (same
    * semantics as SyncPipeline's incremental branch). */
  private[streaming] def applyMicroBatch(batch: DataFrame, indexes: Seq[String],
      wms: Map[String, String], stagingSuffix: String,
      hwms: scala.collection.concurrent.TrieMap[String, String] =
        scala.collection.concurrent.TrieMap.empty): Unit = {
    batch.persist()
    try {
      // one job yields the present-index set, each index's max processed
      // event time (+1 µs: the inclusive `>=` rescan skips the boundary
      // row; the fixed-width format makes string max == time max) and, in
      // bucketed mode, the buckets each index's in-scope rows touch
      val aliases = store.aliases()
      val touched = bucketed.fold(typedLit(Seq.empty[Long]))(
        InPlaceMerge.affectedBuckets(store, aliases,
          col(UpdatedAt) >= element_at(typedLit(wms), col(Idx)).cast("timestamp"), _))
      val stats = batch.groupBy(Idx)
        .agg(date_format(max(col(UpdatedAt)) + expr("INTERVAL 1 MICROSECOND"),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("hwm"), touched.as("buckets"))
        .collect()
      val affected = stats.map(r => r.getString(0) -> r.getSeq[Long](2)).toMap
      stats.foreach { r =>
        if (!r.isNullAt(1)) {
          val idx = r.getString(0)
          val hwm = r.getString(1)
          hwms.updateWith(idx) {
            case Some(prev) if prev >= hwm => Some(prev)
            case _ => Some(hwm)
          }
        }
      }
      val present = stats.map(_.getString(0)).toSet
      indexes.filter(present).foreach { idx =>
        val scoped = batch.where(col(Idx) === idx &&
          col(UpdatedAt) >= lit(wms(idx)).cast("timestamp"))
        // per-record tolerance (K1): poison rows land in the alias's
        // quarantine and never fail or enter the merge. One subdir per
        // micro-batch (partition-style, so reads see all batches) with
        // overwrite semantics — a REPLAYED batch after failure rewrites
        // its own slice instead of appending duplicates.
        val b = validity match {
          case None => scoped
          case Some(v) =>
            val valid = coalesce(v, lit(false))
            val bad = scoped.where(!valid)
            if (!bad.isEmpty)
              store.writePhysical(s"${store.RejectPrefix}$idx/gbatch=$stagingSuffix", bad)
            scoped.where(valid)
        }
        bucketed match {
          case Some(n) =>
            val physical = aliases.getOrElse(idx,
              sys.error(s"bucketed streaming needs a bootstrapped index for $idx"))
            // unobserved: Observation metrics never fire inside foreachBatch
            InPlaceMerge.applyUnobserved(store, physical, b, n, affected(idx))
          case None =>
            val cur = store.read(idx).getOrElse(
              IndexerOps.emptyEnvelope(batch.sparkSession))
            val staged = s"${idx}_$stagingSuffix"
            store.writePhysical(staged, IndexerOps.cdcMerge(cur, b))
            store.swapAlias(idx, staged)
        }
      }
    } finally batch.unpersist()
  }

}

/** Stream-static enrichment (§2.11 streaming-join floor): an unbounded
  * stream equi-joined to bounded dimension tables. Stateless in
  * Structured Streaming — the static side is broadcast per micro-batch,
  * the stream side never shuffles for the join and no state store is
  * created, so executor memory stays flat at any stream length. The
  * enrichment plan itself is [[graft.operators.Relational.eventEnrichment]],
  * shared verbatim with the batch path (its `h10` oracle twin): with
  * `outputMode("complete")` the streaming end state equals the batch
  * result, which StreamingSpec pins. */
object StreamingEnrich {

  /** Watermarked event stream enriched with the customer→nation chain,
    * aggregated per (nation, event type). `lateness` bounds how far
    * out-of-order an event may arrive and still count. */
  def enrichedCounts(stream: DataFrame, customer: DataFrame, nation: DataFrame,
      lateness: String = "1 hour"): DataFrame =
    graft.operators.Relational.eventEnrichment(
      stream.withWatermark("ts", lateness), customer, nation)

  /** Watermarked stream-stream interval join (§2.11): two event streams
    * joined on key within a time bound — Spark's stateful stream-stream
    * join, state bounded by `within` + `lateness` on both sides and
    * swept by the watermark; inner matches emit eagerly, so the append
    * end state equals [[graft.operators.Analytics.intervalJoin]]'s batch
    * result over the same data (StreamingSpec pins it). */
  def intervalJoin(left: DataFrame, right: DataFrame, within: String,
      lateness: String = "1 hour"): DataFrame =
    graft.operators.Analytics.intervalJoin(
      left.withWatermark("ts", lateness),
      right.withWatermark("ts", lateness), within)
}

/** Streaming analytics: watermarked windowed aggregation (the
  * Structured Streaming twin of Analytics.tumblingCounts). */
object StreamingAgg {
  /** Tumbling windowed count per key over a watermarked stream. The
    * caller picks the sink/output mode; with `complete` + memory sink
    * the end state equals the batch tumbling aggregate. */
  def windowedCounts(stream: DataFrame, tsCol: String, keyCol: String,
      windowLen: String, lateness: String): DataFrame =
    stream.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col(keyCol), col("n"))
}
