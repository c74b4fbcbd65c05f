package graft.sync

import graft.operators.IndexerOps
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.control.NonFatal

/** Per-index sync outcome (the reference's log surface, as data).
  * `rejects` counts rows quarantined by the error-tolerant sink (the
  * reference's per-item failure tally under `raise_on_error=False`,
  * flows/main_flow.py:413-426); 0 when no validity predicate is set. */
case class IndexSyncReport(
    index: String,
    physical: String,
    mode: String, // "full" | "incremental" | "skipped"
    upserts: Long,
    deletes: Long,
    rejects: Long = 0L)

/** The reference flow's control plane re-expressed over an [[IndexStore]]
  * (SURVEY.md §3.1, T1-T11; reference flows/main_flow.py:602-762):
  * full blue/green reindex and incremental CDC sync with tombstone
  * deletes, smallest-first scheduling with the largest indexes published
  * concurrently (T9), schema-drift-triggered reindex, zero-work skip,
  * rollback of failed staging builds, orphan cleanup, and post-sync
  * count reconciliation.
  *
  * Scale design:
  *  - the FULL sync, flat or bucketed, is planned by one grouped
  *    aggregate and stages every index in ONE write over the source
  *    (`partitionBy` staging + O(1) directory promotes) — never N scans
  *    of a 100 TB table — with its per-index counts observed on that
  *    write;
  *  - the incremental merge is an id-keyed anti-join ∪ union — shuffle
  *    on `id` only for the one index being merged, broadcastable when
  *    the batch is small — with upsert/delete tallies taken via
  *    `observe()` ON the merge job itself (zero extra actions, A7);
  *  - watermarks are tracked PER INDEX, so a partial sync of some
  *    indexes can never silently skip changes in the others;
  *  - writes run under an injectable [[RetryPolicy]] (T10) with
  *    adaptive chunk degradation (T6) mapped to `maxRecordsPerFile`.
  *    The default policy fails fast (no sleeps); production callers
  *    inject the reference's 10-retry/backoff policy;
  *  - `validity` (when set) makes every write per-record error-tolerant
  *    (K1's real semantics): poison rows — predicate false OR NULL —
  *    quarantine under `_rejects_*` instead of failing the write.
  *    Scope: rows with NULL `updated_at` are outside the INCREMENTAL
  *    domain by CDC definition (the watermark `>=` excludes them, as
  *    the reference's SQL does, flows/main_flow.py:317-333); they
  *    surface in full syncs, where validity applies to them normally.
  */
class SyncPipeline(store: IndexStore, watermarks: WatermarkStore,
    retry: RetryPolicy = RetryPolicy(maxRetries = 0, sleep = _ => ()),
    writeChunk: Option[Int] = None,
    driftJsonPath: String = "$.k",
    parallelLargest: Int = 2,
    validity: Option[org.apache.spark.sql.Column] = None) {

  /** Smallest-first execution order + per-index high-water mark, in ONE
    * aggregate job (A1∘O1; reference flows/main_flow.py:658-673): one
    * row per index comes back to the driver. The syncs themselves plan
    * through the round aggregate ([[planRound]]); this stand-alone form
    * is kept for the benchmark's traced run, which times it as the
    * planning cost of a source scan. */
  def planOrder(env: DataFrame, indexes: Seq[String]): Seq[(String, Long, Option[String])] =
    env.where(col(Idx).isin(indexes: _*))
      .groupBy(Idx)
      .agg(count(col(Id)).as("doc_count"), hwmOf.as("hwm"))
      .orderBy(asc("doc_count"), asc(Idx))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)))).toSeq

  /** An index's high-water mark: max `updated_at` + 1 µs (the inclusive
    * `>=` rescan then skips the boundary row), fixed-width so string
    * order is time order. */
  private def hwmOf: org.apache.spark.sql.Column =
    date_format(max(col(UpdatedAt)) + expr("INTERVAL 1 MICROSECOND"),
      "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** One index's share of a CDC round plan: its row count (for
    * smallest-first order), its high-water mark, the watermark it syncs
    * from, the number of its rows in `[wm, hwm)`, and the id-hash buckets
    * those rows touch (bucketed rounds only). */
  private case class IndexPlan(index: String, docs: Long, hwm: Option[String],
      wm: String, changed: Long, buckets: Seq[Long])

  /** Plans a sync round in ONE grouped aggregate over the source,
    * collected to the driver: per index, its row count, high-water mark,
    * changed-row count and (with `buckets` set) affected buckets. The
    * per-index watermarks and bucket counts are driver-side lookups (the
    * watermark files, the alias manifest, the bucket metadata) passed in
    * as map literals, and the smallest-first order is a driver-side sort
    * by `(count, idx)` — so planning costs one aggregate however many
    * indexes the source holds. Indexes absent from the source are not
    * planned. A full sync reads only the index list, counts, order and
    * high-water marks. */
  private def planRound(env: DataFrame, requested: Option[Seq[String]],
      buckets: Option[Int]): Seq[IndexPlan] = {
    // an index with no watermark of its own syncs from the global one
    val wms = watermarks.indexes().map(i => i -> watermarks.loadOrEpoch(i)).toMap
    val changed = col(UpdatedAt) >= coalesce(element_at(typedLit(wms), col(Idx)),
      lit(watermarks.loadOrEpoch())).cast("timestamp")
    val touched = buckets.fold(typedLit(Seq.empty[Long]))(
      InPlaceMerge.affectedBuckets(store, store.aliases(), changed, _))
    env.where(requested.fold(col(Idx).isNotNull)(xs => col(Idx).isin(xs.map(_.toLowerCase): _*)))
      .groupBy(Idx)
      .agg(count(col(Id)), hwmOf, count_if(changed), touched)
      .collect()
      .map(r => IndexPlan(r.getString(0), r.getLong(1), Option(r.getString(2)),
        watermarks.loadOrEpoch(r.getString(0)), r.getLong(3),
        r.getSeq[Long](4).sorted))
      .toSeq.sortBy(p => (p.docs, p.index))
  }

  /** The rows a planned index merges: its changes in `[wm, hwm)`. The
    * upper bound keeps the merge to the rows the plan counted (and whose
    * buckets it collected): a row landing after the plan waits for the
    * next round, whose watermark is this round's `hwm`. */
  private def roundBatch(env: DataFrame, p: IndexPlan): DataFrame = {
    val scan = IndexerOps.incrementalScan(env, Seq(p.index), p.wm)
    p.hwm.fold(scan)(h => scan.where(col(UpdatedAt) < lit(h).cast("timestamp")))
  }

  private def skipped(idx: String): IndexSyncReport =
    IndexSyncReport(idx, store.aliases().getOrElse(idx, ""), "skipped", 0L, 0L)

  /** T10/T6 — every store write runs under the retry policy; on adaptive
    * mode, repeated failure shrinks the write chunk (maxRecordsPerFile)
    * along the reference's 500→…→1 schedule. With a `validity` predicate
    * configured, the write is per-record error-tolerant (K1's real
    * semantics — the reference's `streaming_bulk(raise_on_error=False)`
    * + per-item tally, flows/main_flow.py:413-426): poison rows are
    * split off to a quarantine dir in the SAME single scan, the good
    * rows land, and a poison row never fails the write — so it never
    * burns a retry cycle. Returns the number of quarantined rows. */
  private def writeStaged(name: String, df: DataFrame): Long =
    validity match {
      case Some(_) => writeStagedTolerant(name, df)
      case None => writeRaw(name, df); 0L
    }

  /** The validity-free physical write (chunked + retried) — for frames
    * whose rows are already validated (e.g. [[insertInto]]'s old ∪
    * screened-new union). */
  private def writeRaw(name: String, df: DataFrame): Unit =
    writeChunk match {
      case Some(start) =>
        retry.withAdaptiveChunks(start, reconnectMs = 0L) { c =>
          retry.retry(() => store.writePhysical(name, df, Some(c)))
        }
      case None =>
        retry.retry(() => store.writePhysical(name, df, None))
    }

  private val ValidKey = "_graft_valid"

  /** NULL-safe validity: a row whose predicate evaluates to NULL (e.g.
    * `length(id) > 0` over a NULL id — the archetypal poison row) must
    * be POISON, not a third silently-dropped partition value. */
  private def validCol: org.apache.spark.sql.Column =
    coalesce(validity.get, lit(false))

  /** One scan splits `df` on the validity predicate into the staged
    * index (valid side) and `_rejects_<name>` (poison side), with the
    * reject tally observed ON the split write — zero extra jobs (A7's
    * metric discipline). Slice promotion is an O(1) rename. */
  private def writeStagedTolerant(name: String, df: DataFrame): Long = {
    val stage = s"_stage_tol_${System.nanoTime()}"
    val valid = validCol
    try {
      var rejects = 0L
      def attempt(chunk: Option[Int]): Unit = {
        val obs = new Observation(s"graft_valid_${System.nanoTime()}")
        val tagged = df
          .observe(obs, coalesce(sum(when(valid, 0L).otherwise(1L)), lit(0L)).as("rejects"))
          .withColumn(ValidKey, valid)
        store.writeSplitStage(stage, tagged, ValidKey, chunk)
        // AQE empty-relation propagation can prune the observed subtree
        // when `df` collapses to empty at runtime (e.g. a merge whose
        // every upstream stage is empty) — no rows means no rejects.
        rejects = obs.get.get("rejects").map(_.asInstanceOf[Long]).getOrElse(0L)
      }
      writeChunk match {
        case Some(start) =>
          retry.withAdaptiveChunks(start, reconnectMs = 0L) { c =>
            retry.retry(() => attempt(Some(c)))
          }
        case None => retry.retry(() => attempt(None))
      }
      if (!store.promoteSlice(stage, s"$ValidKey=true", name))
        // every row was poison (or the batch was empty): the index still
        // needs a schema-bearing physical dir
        retry.retry(() => store.writePhysical(name, df.where(valid), None))
      if (rejects > 0)
        store.promoteSlice(stage, s"$ValidKey=false", s"${store.RejectPrefix}$name")
      rejects
    } finally store.dropStage(stage)
  }

  /** The SQL INSERT surface (the [[graft.sources.GraftCatalog]] write
    * path): append `df` to the live index behind `alias` — or replace
    * it, for INSERT OVERWRITE — through the SAME tolerant staged write
    * and atomic alias swap every pipeline publish uses. Blue/green, not
    * in-place: old ∪ new lands in a FRESH physical and the alias swap is
    * the commit, so readers see the old or the new index, never a
    * partial append, and a failed insert leaves the live index
    * untouched. With a validity predicate configured, poison rows
    * (false OR NULL) of the NEW BATCH quarantine under the new
    * physical's `_rejects_` dir instead of failing the insert — SQL
    * writers get K1's per-record tolerance for free. Already-published
    * rows are never re-screened: validation happened at their own
    * publish, and re-screening against a possibly-changed predicate
    * would re-quarantine them on every append and corrupt the tally.
    * The batch size is observed on the split's single pass over the
    * new batch (or on the write itself when no validity is configured).
    *
    * Cost note: an append rewrites the index (O(index + batch)) — the
    * price of atomically-published SQL inserts over an immutable store.
    * High-volume appends belong in [[incrementalSyncInPlace]], whose
    * bucketed merge is O(delta).
    *
    * Concurrency note: read-combine-swap is not serialized across
    * writers — two overlapping inserts to one alias each publish a
    * frame derived from the same BEFORE state, and the later swap wins
    * (the earlier insert's rows are superseded, exactly like two
    * concurrent blue/green publishes). Serialize inserts per alias, or
    * use the pipeline's sync paths, when multiple writers share an
    * alias. */
  def insertInto(alias: String, df: DataFrame, overwrite: Boolean = false): IndexSyncReport = {
    val physical = s"${alias}_ins_${System.nanoTime()}"
    val obs = new Observation(s"graft_insert_${System.nanoTime()}")
    val observed = df.observe(obs, coalesce(count(lit(1)), lit(0L)).as("n"))
    val prev = store.aliases().get(alias)
    // a bucketed physical exposes its bucket partition column to readers
    // (and hence to the catalog's INSERT schema) — strip it from both
    // sides so placement is always RECOMPUTED from the id; a caller
    // could otherwise plant rows in buckets the id-hash disagrees with
    def noBucket(d: DataFrame): DataFrame =
      if (d.columns.contains(store.BucketKey)) d.drop(store.BucketKey) else d
    // the quarantine split screens ONLY the new batch: pre-published
    // rows were validated at their own publish time — re-screening them
    // against a (possibly changed) predicate would re-quarantine them on
    // every append and corrupt the tally (upserts = n − rejects could
    // undercount or go negative). The split's one count action runs over
    // the new batch alone; the old rows ride along unvalidated.
    val (goodNew, rejects) = quarantineSplit(noBucket(observed), physical)
    val combined =
      if (overwrite) goodNew
      else store.read(alias).map(c => noBucket(c).unionByName(goodNew))
        .getOrElse(goodNew)
    // an alias served by a BUCKETED physical must stay bucketed across
    // an insert: a flat replacement would silently break the next
    // in-place merge (which prunes on the bucket partition column).
    // The bucket count carries over; re-scaling stays rescaleBuckets'
    // job.
    prev.flatMap(store.bucketCountOf) match {
      case Some(buckets) =>
        retry.retry(() => store.writePhysicalBucketed(physical, combined, Id, buckets))
      case None => writeRaw(physical, combined)
    }
    store.swapAlias(alias, physical)
    val n = obs.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
    IndexSyncReport(alias, physical,
      if (overwrite) "insert_overwrite" else "insert",
      upserts = n - rejects, deletes = 0L, rejects = rejects)
  }

  /** Validity split for the bucketed (in-place) paths, which write
    * through their own bucketed layout rather than [[writeStagedTolerant]]:
    * quarantine the poison side under `_rejects_<name>`, return the good
    * side + reject count. Each call writes its OWN partition-style
    * subdir (overwrite-idempotent under retry, tag fixed per call), so
    * successive syncs against the same physical name ACCUMULATE
    * quarantined rows instead of destroying earlier ones — they exist to
    * be inspected. The extra count action runs only with a validity
    * predicate configured, over the (small) pruned batch. */
  private def quarantineSplit(df: DataFrame, name: String): (DataFrame, Long) =
    validity match {
      case None => (df, 0L)
      case Some(_) =>
        val valid = validCol
        val bad = df.where(!valid)
        val n = bad.count()
        if (n > 0) {
          val slice = quarantineBatch(name)
          retry.retry(() => store.writePhysical(slice, bad, None))
        }
        (df.where(valid), n)
    }

  /** A fresh batch dir under `name`'s quarantine: the bucketed layout's
    * quarantine accumulates one such dir per sync that rejected rows. */
  private def quarantineBatch(name: String): String =
    s"${store.RejectPrefix}$name/gbatch=sync_${System.nanoTime()}"

  /** Full blue/green sync (T4; reference main_flow full_sync branch),
    * flat or, with `buckets` set, in the id-hash-bucket layout the
    * in-place incremental path merges into. One grouped aggregate plans
    * it (the index list, the smallest-first order and each index's
    * high-water mark, [[planRound]]); ONE scan of the source then stages
    * every index in one write, partitioned by index (and by validity and
    * bucket, when set); each index's slice is promoted (O(1) rename) and
    * its alias swapped, smallest first (renames, so `parallelLargest`
    * has nothing to overlap here). A bucketed stage is first
    * repartitioned by (index, bucket), so each bucket of each index is
    * one file, the layout merges and compaction keep. Per-index live
    * and reject counts are observed on the stage write — no count job
    * per index. A requested index the source lacks publishes empty. A
    * failure rolls back the stage and any unswapped promotes (T8) and
    * rethrows. */
  def fullSync(env: DataFrame, indexes: Option[Seq[String]] = None,
      timestamp: String, buckets: Option[Int] = None): Seq[IndexSyncReport] = {
    val plan = planRound(env, indexes, buckets = None)
    val planned = plan.map(_.index)
    val absent = indexes.toSeq.flatten.map(_.toLowerCase).distinct.filterNot(planned.contains)
    val order = absent.sorted ++ planned
    if (order.isEmpty) return Seq.empty // empty → early exit (:648-650)
    val stage = s"_stage_$timestamp"
    def physical(idx: String) = s"${idx}_$timestamp"
    val done =
      try {
        val counts = if (planned.isEmpty) Map.empty[String, (Long, Long)]
          else stageAll(stage, env, planned, buckets)
        val reports = order.map { idx =>
          val slice = store.partSliceDir(idx)
          val staged = physical(idx)
          val validSlice = if (validity.isDefined) s"$slice/$ValidKey=true" else slice
          if (!store.promoteSlice(stage, validSlice, staged, buckets)) {
            // no valid row for this index: publish it empty
            val empty = IndexerOps.fullSyncScan(env, Seq(idx)).limit(0)
            retry.retry(() => buckets match {
              case Some(n) => store.writePhysicalBucketed(staged, empty, Id, n)
              case None => store.writePhysical(staged, empty)
            })
          }
          // the quarantine keeps each layout's shape: a flat index's rows
          // at its root, a bucketed index's in a batch dir (its poison rows
          // staged under a null bucket)
          if (validity.isDefined)
            buckets match {
              case Some(_) => store.promoteSlice(stage,
                s"$slice/$ValidKey=false/${store.BucketKey}=$NullPartition", quarantineBatch(staged))
              case None => store.promoteSlice(stage, s"$slice/$ValidKey=false",
                s"${store.RejectPrefix}$staged")
            }
          store.swapAlias(idx, staged)
          val (live, rejects) = counts.getOrElse(idx, (0L, 0L))
          IndexSyncReport(idx, staged, "full", live, 0L, rejects)
        }
        store.dropStage(stage) // promotes moved every slice out; drop husk
        reports
      } catch {
        case NonFatal(e) =>
          store.dropStage(stage)
          order.foreach { idx =>
            if (store.aliases().get(idx).forall(_ != physical(idx))) {
              store.deletePhysical(physical(idx)) // T8 rollback
              store.deletePhysical(s"${store.RejectPrefix}${physical(idx)}")
            }
          }
          throw e
      }
    store.cleanupOrphans() // K4, scheduled on the full-sync branch (:652-656)
    saveWatermarks(plan.map(p => p.index -> p.hwm))
    done
  }

  /** Directory name Spark gives a null partition value. */
  private val NullPartition = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** Stages `indexes` of `env` in ONE write (under the retry policy) and
    * returns each index's (valid, rejected) row counts, observed on that
    * write; an index whose metrics AQE pruned away counts 0. */
  private def stageAll(stage: String, env: DataFrame, indexes: Seq[String],
      buckets: Option[Int]): Map[String, (Long, Long)] = {
    val valid = if (validity.isDefined) validCol else lit(true)
    val metrics = indexes.zipWithIndex.flatMap { case (idx, i) =>
      val mine = col(Idx) === idx
      Seq(count_if(mine && valid).as(s"live_$i"), count_if(mine && !valid).as(s"rejects_$i"))
    }
    retry.retry { () =>
      val obs = new Observation(s"graft_full_${System.nanoTime()}")
      val scan = IndexerOps.fullSyncScan(env, indexes).observe(obs, metrics.head, metrics.tail: _*)
      val split = validity.fold(scan)(_ => scan.withColumn(ValidKey, valid))
      // poison rows get a null bucket: one quarantine dir per index
      val placed = buckets.fold(split) { n =>
        val bucket = store.bucketExpr(Id, n)
        split.withColumn(store.BucketKey, validity.fold(bucket)(_ => when(col(ValidKey), bucket)))
      }
      store.writePartitionedStage(stage, placed, Idx,
        subParts = validity.map(_ => ValidKey).toSeq ++ buckets.map(_ => store.BucketKey),
        sortCol = Id, clustered = buckets.isDefined, maxRecordsPerFile = writeChunk)
      val m = obs.get
      def got(k: String) = m.get(k).fold(0L)(_.asInstanceOf[Long])
      indexes.zipWithIndex.map { case (idx, i) => idx -> (got(s"live_$i"), got(s"rejects_$i")) }.toMap
    }
  }

  /** Smallest first, with the tail (largest) `parallelLargest` indexes
    * running concurrently in Spark's fair-scheduler pool — concurrent
    * jobs in one session are the Spark analog of the reference's
    * tag-based parallelism for its two biggest indexes. */
  private def runSmallestFirstLargestParallel[A](orderAsc: Seq[A])(
      job: A => IndexSyncReport): Seq[IndexSyncReport] = {
    val n = orderAsc.length
    val cut = math.max(0, n - math.max(0, parallelLargest))
    val (serial, parallel) = orderAsc.splitAt(cut)
    val head = serial.map(job)
    val tail =
      if (parallel.length <= 1) parallel.map(job)
      else {
        val pool = Executors.newFixedThreadPool(parallel.length)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val sc = store.spark.sparkContext
        try {
          val fs = parallel.map { idx =>
            Future {
              sc.setLocalProperty("spark.scheduler.pool", "graft-large")
              try job(idx) finally sc.setLocalProperty("spark.scheduler.pool", null)
            }
          }
          // settle ALL siblings before surfacing any failure: a caller's
          // rollback must never delete dirs out from under a still-
          // running publish (lifted futures never fail Future.sequence)
          val settled = Await.result(
            Future.sequence(fs.map(_.transform(scala.util.Success(_)))),
            Duration.Inf)
          settled.collectFirst { case scala.util.Failure(e) => throw e }
          settled.map(_.get)
        } finally pool.shutdown()
      }
    head ++ tail
  }

  /** Incremental CDC sync (T1/T3; reference flows/main_flow.py:316-333,
    * 366-395,675-707), planned by the same one-aggregate round plan as
    * [[incrementalSyncInPlace]]: per index — drift check (T11) may force
    * a full reindex; zero-change skip (P11) from the plan's changed
    * count; otherwise merge the `[wm, hwm)` batch into the live state and
    * publish blue/green (atomic even for increments — stronger than the
    * reference's in-place bulk, same observable result). The drift check
    * runs for unchanged indexes too: an out-of-band rewrite that moves no
    * watermark is exactly what it exists to catch. Watermarks advance
    * per index, to each planned index's own hwm. */
  def incrementalSync(env: DataFrame, indexes: Option[Seq[String]] = None,
      timestamp: String): Seq[IndexSyncReport] = {
    val plan = planRound(env, indexes, buckets = None)
    def sync(p: IndexPlan): IndexSyncReport = {
      val idx = p.index
      val batch = roundBatch(env, p)
      val staged = s"${idx}_$timestamp"
      // T8 rollback: a staged build that fails must take its promoted
      // quarantine with it — the alias never binds, so nothing else
      // would ever reclaim `_rejects_<staged>`
      def rollback(e: Throwable): Nothing = {
        store.deletePhysical(staged)
        store.deletePhysical(s"${store.RejectPrefix}$staged")
        throw e
      }
      if (isDrifted(idx, env, batch)) {
        // T11 — schema drift forces a full rebuild of this index
        try {
          val rejects = writeStaged(staged, IndexerOps.fullSyncScan(env, Seq(idx)))
          store.swapAlias(idx, staged)
          IndexSyncReport(idx, staged, "full", store.count(idx), 0L, rejects)
        } catch { case NonFatal(e) => rollback(e) }
      } else if (p.changed == 0) {
        skipped(idx)
      } else {
        try {
          val (merged, obs) = applyBatch(store.read(idx), batch)
          val rejects = writeStaged(staged, merged.sortWithinPartitions(Id))
          store.swapAlias(idx, staged)
          val m = obs.get
          val nIds = m("batch_ids").asInstanceOf[Long]
          val nDels = m("batch_deletes").asInstanceOf[Long]
          IndexSyncReport(idx, staged, "incremental", nIds - nDels, nDels, rejects)
        } catch { case NonFatal(e) => rollback(e) }
      }
    }
    val reports = runSmallestFirstLargestParallel(plan)(sync)
    saveWatermarks(plan.map(p => p.index -> p.hwm))
    reports
  }

  /** T11 drift gate: compare the min-id document's drift field between
    * stored state and source, EXCLUDING ids touched by the pending batch
    * (an ordinary pending update is not drift — ADVICE r1). Drift
    * requires a doc on BOTH sides with differing values. */
  private def isDrifted(idx: String, env: DataFrame, batch: DataFrame): Boolean =
    store.read(idx).exists { cur =>
      val pending = batch.select(Id)
      val stored = cur.join(pending, Seq(Id), "left_anti")
      val source = env.where(col(Idx) === idx).join(pending, Seq(Id), "left_anti")
      IndexerOps.schemaDrift(stored, source, driftJsonPath)
        .where(col("stored_name").isNotNull && col("source_name").isNotNull)
        .limit(1).count() > 0
    }

  /** CDC merge with upsert/delete tallies observed ON the merge plan
    * itself (A7 — the reference's records/errors counters) — zero extra
    * Spark actions; the metrics materialize with the staged write. */
  private[sync] def applyBatch(current: Option[DataFrame], batch: DataFrame)
      : (DataFrame, Observation) = {
    val cur = current.getOrElse(IndexerOps.emptyEnvelope(batch.sparkSession))
    val obs = new Observation(s"graft_batch_${System.nanoTime()}")
    (IndexerOps.cdcMergeObserved(cur, batch, obs), obs)
  }

  /** In-place bucketed incremental sync — the scale path for increments.
    * The blue/green [[incrementalSync]] rewrites the WHOLE index per
    * batch (atomic, but a full copy for a 0.1% delta); this variant
    * mirrors the reference's actual in-place bulk upsert
    * (flows/main_flow.py:366-422) at partition granularity: physical
    * indexes are partitioned by id-hash bucket and ONLY the buckets the
    * batch touches are rewritten (partition-pruned read, per-bucket
    * swap). Incremental cost ∝ |delta| × (index/buckets), not |index|.
    * Requires a bucketed bootstrap via [[fullSyncBucketed]].
    *
    * A round is planned by ONE grouped aggregate over the source
    * (per index: row count for smallest-first order, high-water mark,
    * changed-row count since the index's watermark, affected buckets), so
    * its fixed Spark cost does not grow with the number of indexes. An
    * index with no changes reports `skipped` with no further Spark work;
    * a changed index merges exactly its `[wm, hwm)` rows — the rows the
    * plan counted — into the planned buckets through [[InPlaceMerge]]. */
  def incrementalSyncInPlace(env: DataFrame, indexes: Option[Seq[String]] = None,
      buckets: Int = 64): Seq[IndexSyncReport] = {
    val plan = planRound(env, indexes, Some(buckets))
    def sync(p: IndexPlan): IndexSyncReport = {
      if (p.changed == 0) return skipped(p.index)
      val physical = store.aliases().getOrElse(p.index,
        sys.error(s"in-place sync needs a bootstrapped bucketed index for ${p.index}"))
      // per-record tolerance applies to the in-place path too: poison
      // rows quarantine instead of merging into the live index
      val (good, rejects) = quarantineSplit(roundBatch(env, p), physical)
      if (rejects > 0 && good.isEmpty)
        return IndexSyncReport(p.index, physical, "incremental", 0L, 0L, rejects)
      val (ups, dels) = InPlaceMerge(store, physical, good, buckets, p.buckets)
      IndexSyncReport(p.index, physical, "incremental", ups, dels, rejects)
    }
    val reports = runSmallestFirstLargestParallel(plan)(sync)
    saveWatermarks(plan.map(p => p.index -> p.hwm))
    reports
  }

  /** Bucketed bootstrap for the in-place incremental path: the full
    * sync in the id-hash-bucket layout. */
  def fullSyncBucketed(env: DataFrame, indexes: Option[Seq[String]] = None,
      timestamp: String, buckets: Int = 64): Seq[IndexSyncReport] =
    fullSync(env, indexes, timestamp, Some(buckets))

  /** Re-bucket a bucketed index to a new bucket count — the growth path
    * of the in-place layout: bucket count is fixed at bootstrap, so at
    * k× data growth per-bucket size (and with it the cost of every
    * delta merge, ∝ index/buckets) grows k× unless the index re-scales.
    *
    * Protocol: blue/green, not per-bucket surgery. A split rewrites
    * every bucket anyway (under `pmod(hash, to)` with `to = m·from`,
    * old bucket b's rows spread across {b, b+from, …} — the same-hash
    * family, so nothing outside b ever lands there), and swapping
    * buckets pairwise in place would open loss/duplication windows
    * between moving a row's old home and its new home. Staging the
    * re-bucketed copy and swapping the alias costs the same single
    * read+write, is atomic at the index level, and reuses the T8
    * rollback path. The new count is persisted in the index metadata,
    * so subsequent merges pick it up automatically (a stale caller
    * count cannot unprune reads). Doubling (`to = 2·from`) is the
    * canonical step; any multiple works. Returns the new physical name. */
  def rescaleBuckets(alias: String, to: Int, timestamp: String): String = {
    val physical = store.aliases().getOrElse(alias,
      sys.error(s"cannot re-scale unbound alias $alias"))
    val from = store.bucketCountOf(physical).getOrElse(
      sys.error(s"$physical is not a bucketed index"))
    require(to > from && to % from == 0,
      s"bucket re-scale must split evenly: $from -> $to")
    val staged = s"${alias}_$timestamp"
    try {
      retry.retry(() => store.writePhysicalBucketed(
        staged, store.readPhysical(physical).drop(store.BucketKey), Id, to))
      store.swapAlias(alias, staged)
      staged
    } catch {
      case NonFatal(e) => store.deletePhysical(staged); throw e // T8
    }
  }

  /** Compaction for the in-place bucketed layout: every delta merge
    * rewrites its affected buckets as fresh files, so a long-running
    * incremental index accumulates small files per bucket — and scan
    * cost (task scheduling, footer reads) grows with FILE count even
    * when data volume doesn't. Compaction rewrites each bucket back to
    * one file per bucket: `repartition(col(bucket))` hash-routes every
    * bucket's rows to exactly one task, and the write lands through
    * [[IndexStore.replaceBuckets]] — the same per-bucket
    * backup-then-swap protocol as a merge, so a crash mid-compaction
    * loses nothing and readers never see a partial bucket. Content is
    * untouched (spec: byte-identical rows, merges still prune after).
    * At 100 TB this runs bucket-parallel and only metadata plus file
    * count change. Returns the number of buckets compacted. */
  def compactIndex(alias: String): Int = {
    val physical = store.aliases().getOrElse(alias,
      sys.error(s"cannot compact unbound alias $alias"))
    store.bucketCountOf(physical).getOrElse(
      sys.error(s"$physical is not a bucketed index"))
    // the partition column reads back as INT via partition-value
    // inference; bucket ids are long everywhere else
    val buckets = store.readPhysical(physical)
      .select(col(store.BucketKey).cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    // the read happens INSIDE the retry thunk (like rescaleBuckets): a
    // partial replaceBuckets failure leaves some buckets swapped and
    // their old files gone, so a retry must list the files afresh — a
    // plan captured outside would replay against the stale listing and
    // die with FileNotFoundException instead of recovering. The bucket
    // id set itself is stable across attempts (compaction reroutes rows
    // within buckets, never across), so `buckets` can stay hoisted.
    if (buckets.nonEmpty)
      retry.retry(() => store.replaceBuckets(physical,
        store.readPhysical(physical).repartition(col(store.BucketKey)), buckets))
    buckets.length
  }

  /** J2 — post-sync reconciliation in ONE Spark job: the stored side is
    * the union of every index's live read (each a pruned parquet scan),
    * the source one filtered aggregate, compared by
    * [[IndexerOps.countReconciliation]]'s full-outer count join — so
    * reconciling N indexes costs one action, not 2N count jobs. Missing
    * or empty indexes surface through the full-outer side as count 0.
    * Empty result = consistent. */
  def reconcile(env: DataFrame, indexes: Seq[String]): Seq[(String, Long, Long)] = {
    val stored = indexes.flatMap(idx => store.read(idx).map(_.select(Idx, Id)))
      .reduceOption(_.unionByName(_))
      .getOrElse(IndexerOps.emptyEnvelope(store.spark).select(Idx, Id))
    val source = env.where(col(Idx).isin(indexes: _*))
    IndexerOps.countReconciliation(stored, source)
      .collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))).toSeq
  }

  /** Advance each synced index's watermark to its own high-water mark
    * (max updated_at + 1 µs, computed in the planning aggregate — the
    * deterministic analog of the reference's run-timestamp watermark).
    * Untouched indexes keep their old watermark: no silent skips. */
  private def saveWatermarks(hwms: Seq[(String, Option[String])]): Unit =
    hwms.foreach { case (idx, hwm) => hwm.foreach(watermarks.save(idx, _)) }
}
