package graft.sync

import graft.operators.IndexerOps
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{coalesce, col, collect_set, count, element_at, lit, sum,
  typedLit, when}

/** Shared delta-proportional merge step: apply a CDC batch to a BUCKETED
  * physical index, rewriting only the id-hash bucket partitions the
  * batch touches (see IndexStore.replaceBuckets for the swap protocol).
  * Run by [[SyncPipeline.syncIndex]], the one incremental step of both
  * the batch round (SyncPipeline.incrementalSyncInPlace) and the stream
  * (graft.streaming.StreamingCdc).
  *
  * The merge does not find its buckets itself: each caller plans them
  * with [[affectedBuckets]] inside an aggregate it already runs (the
  * pipeline's round plan, the stream's per-micro-batch stats) and passes
  * the set in, so the bucket set costs no job of its own. Rows of the
  * batch outside the planned set are not merged: a merge may only write
  * buckets that `replaceBuckets` swaps in. */
object InPlaceMerge {

  /** The affected-bucket aggregate, for an aggregate grouped by index:
    * the distinct id-hash buckets of the rows `changed` selects — the
    * partitions a merge of those rows rewrites. Each row is placed under
    * the bucket count of the physical index its alias binds (`aliases`),
    * or `fallback` for an unbound index. Read the result back with
    * `getSeq[Long]`. */
  def affectedBuckets(store: IndexStore, aliases: Map[String, String],
      changed: Column, fallback: Int): Column = {
    val counts = aliases.map { case (a, p) => a -> bucketCount(store, p, fallback).toLong }
    collect_set(when(changed, IndexStore.bucketOf(col(Id),
      coalesce(element_at(typedLit(counts), col(Idx)), lit(fallback.toLong)))))
  }

  /** The bucket count a merge into `physical` uses: the index's own
    * metadata wins over the caller's count, since after a bucket
    * re-scale a stale caller value would place rows in buckets the layout
    * doesn't have and un-prune every merge read. */
  private def bucketCount(store: IndexStore, physical: String, fallback: Int): Int =
    store.bucketCountOf(physical).getOrElse(fallback)

  /** Batch-context merge with (upserts, deletes) tallies observed on
    * the merge action. NOT for streaming: `Observation` metrics never
    * materialize for actions run inside a `foreachBatch`, so `obs.get`
    * would block forever — use [[applyUnobserved]] there. */
  def apply(store: IndexStore, physical: String, batch: DataFrame,
      buckets: Int, affected: Seq[Long]): (Long, Long) = {
    val obs = new Observation(s"graft_inplace_${System.nanoTime()}")
    val planned = run(store, physical, batch, buckets, affected, Some(obs))
    val m = obs.get
    if (m.contains("batch_ids")) {
      val nIds = m("batch_ids").asInstanceOf[Long]
      val nDels = m("batch_deletes").asInstanceOf[Long]
      (nIds - nDels, nDels)
    } else {
      // AQE empty-relation propagation can prune the observed subtree
      // when the merged output is empty (e.g. every doc tombstoned) —
      // fall back to one explicit tally aggregate over the batch
      val r = IndexerOps.latestPerId(planned)
        .agg(count(lit(1)).as("ids"),
          sum(when(col(IsDeleted), 1L).otherwise(0L)).as("dels"))
        .collect()(0)
      val nIds = if (r.isNullAt(0)) 0L else r.getLong(0)
      val nDels = if (r.isNullAt(1)) 0L else r.getLong(1)
      (nIds - nDels, nDels)
    }
  }

  /** Streaming-context merge: same plan, no observation. */
  def applyUnobserved(store: IndexStore, physical: String, batch: DataFrame,
      buckets: Int, affected: Seq[Long]): Unit =
    run(store, physical, batch, buckets, affected, None)

  /** Merges `batch` into the `affected` buckets and returns the batch rows
    * it merged. */
  private def run(store: IndexStore, physical: String, batch: DataFrame,
      buckets: Int, affected: Seq[Long], obs: Option[Observation]): DataFrame = {
    val n = bucketCount(store, physical, buckets)
    val planned = batch.where(store.bucketExpr(Id, n).isin(affected: _*))
    val cur =
      if (!store.hasData(physical)) None
      else Some(store.readPhysical(physical)
        .where(col(store.BucketKey).isin(affected: _*)) // partition pruning
        .select(Idx, Id, Document, IsDeleted))
    val current = cur.getOrElse(IndexerOps.emptyEnvelope(batch.sparkSession))
    val merged = obs match {
      case Some(o) => IndexerOps.cdcMergeObserved(current, planned, o)
      case None => IndexerOps.cdcMerge(current, planned)
    }
    // repartition by bucket: ONE file per rewritten bucket partition
    // (otherwise every shuffle task holding rows of a bucket writes its
    // own small file — ~32 files per bucket per merge); the extra
    // shuffle moves only the merged delta, and id-sorted rows keep
    // parquet min/max stats tight.
    store.replaceBuckets(physical,
      merged.withColumn(store.BucketKey, store.bucketExpr(Id, n))
        .repartition(col(store.BucketKey))
        .sortWithinPartitions(Id),
      affected)
    planned
  }

}
