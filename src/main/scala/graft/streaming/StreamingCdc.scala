package graft.streaming

import graft.sources.Tables
import graft.sources.Tables._
import graft.sync.{InPlaceMerge, IndexStore, SyncPipeline, WatermarkStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming form of the reference's continuous incremental
  * sync (T1/T2 streaming; reference flows/main_flow.py:316-333,366-395):
  * `readStream` over the envelope source, event-time watermark on
  * `updated_at`, `foreachBatch` → per index, the same in-place step as
  * the batch round ([[SyncPipeline.syncIndex]]: quarantine, then an
  * id-keyed CDC merge into the touched id-hash buckets of the
  * [[IndexStore]]), `Trigger.AvailableNow` for catch-up runs.
  *
  * The streaming pieces replace the reference's hand-rolled machinery
  * 1:1: the checkpoint location persists source offsets (T2/T7 — the
  * reference's `save_last_run_config` + cursor `scroll` resume), task
  * re-execution over idempotent id-keyed merges replaces manual
  * reconnect bookkeeping, and `maxFilesPerTrigger` bounds a micro-batch
  * (T5, the reference's `db_batch_size`).
  *
  * Scale notes: each micro-batch runs the batch round's merge plan
  * (delta-proportional: only touched buckets are rewritten — see
  * [[InPlaceMerge]]); state never accumulates in the stream itself —
  * the store IS the state, so executor memory is flat regardless of run
  * length. A bound index merges at the bucket count in its metadata; an
  * unbound one gets a fresh bucketed physical with
  * [[SyncPipeline.DefaultBuckets]] buckets from its first micro-batch.
  * The drift gate (T11) belongs to the batch round's plan; a stream's
  * watermark save drops the index's drift probe, and the next round
  * picks a new one.
  *
  * @param validity when set: per-record error tolerance, the same K1
  *   semantics as the batch round — each micro-batch's poison rows
  *   (predicate false OR NULL) land in the bound physical's quarantine
  *   (`_rejects_<physical>/gbatch=<timestamp>_b<batchId>`, read via
  *   `store.rejected(physical)`) instead of merging, and never fail the
  *   batch; a replayed batch rewrites its own dir. Scope: rows with a
  *   NULL event time are outside the CDC domain entirely — the watermark
  *   predicate `updated_at >= W` excludes them exactly as the
  *   reference's incremental SQL does (flows/main_flow.py:317-333) — so
  *   they surface only in FULL syncs, where the validity predicate can
  *   quarantine them. Quarantine dirs are per checkpoint lineage: a
  *   rerun under a NEW timestamp reprocesses the source from offset
  *   zero (merges stay idempotent by id) and re-quarantines its own
  *   poison rows alongside the previous lineage's. */
class StreamingCdc(store: IndexStore, watermarks: WatermarkStore,
    validity: Option[org.apache.spark.sql.Column] = None) {

  private val pipeline = new SyncPipeline(store, watermarks, validity = validity)

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
    * (`Trigger.AvailableNow`): every micro-batch merges in place into
    * the store per index through [[SyncPipeline.syncIndex]], the batch
    * round's step. Returns the number of micro-batches processed. */
  def syncAvailable(spark: SparkSession, sourceDir: String,
      indexes: Seq[String], timestamp: String,
      maxFilesPerTrigger: Int = 1, lateness: String = "1 hour"): Long = {
    // watermarks are PER INDEX (a single global mark would let a partial
    // sync silently skip other indexes' changes — ADVICE r1); the stream
    // pre-filters at the MINIMUM selected watermark (safe for all), and
    // each index applies its own exact mark per micro-batch. The marks
    // stay fixed for the run.
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

  /** One micro-batch: one job yields the present-index set, each index's
    * max processed event time and the buckets each index's in-scope rows
    * touch; then each present index runs the shared in-place step, its
    * rejects under the batch's own dir `batchTag`. The merge is
    * unobserved: `Observation` metrics never fire inside `foreachBatch`. */
  private[streaming] def applyMicroBatch(batch: DataFrame, indexes: Seq[String],
      wms: Map[String, String], batchTag: String,
      hwms: scala.collection.concurrent.TrieMap[String, String] =
        scala.collection.concurrent.TrieMap.empty): Unit = {
    batch.persist()
    try {
      val inScope = col(UpdatedAt) >= element_at(typedLit(wms), col(Idx)).cast("timestamp")
      val stats = batch.groupBy(Idx)
        .agg(SyncPipeline.hwmOf, InPlaceMerge.affectedBuckets(store, store.aliases(), inScope,
          SyncPipeline.DefaultBuckets))
        .collect()
      stats.foreach { r =>
        if (!r.isNullAt(1)) hwms.updateWith(r.getString(0)) {
          case Some(prev) if prev >= r.getString(1) => Some(prev)
          case _ => Some(r.getString(1))
        }
      }
      val affected = stats.map(r => r.getString(0) -> r.getSeq[Long](2)).toMap
      // an index with no in-scope row has no bucket to touch
      indexes.filter(affected.get(_).exists(_.nonEmpty)).foreach { idx =>
        pipeline.syncIndex(idx, batch.where(col(Idx) === idx && inScope), affected(idx),
          batchTag, SyncPipeline.DefaultBuckets, observed = false)
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
