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
  * `mode` is "full" (a full reindex, or a drift rebuild), "incremental"
  * (an in-place merge), "skipped" (no changes), "insert" or
  * "insert_overwrite" ([[SyncPipeline.insertInto]]). `rejects` counts
  * rows quarantined by the error-tolerant sink (the reference's
  * per-item failure tally under `raise_on_error=False`,
  * flows/main_flow.py:413-426); 0 when no validity predicate is set. */
case class IndexSyncReport(
    index: String,
    physical: String,
    mode: String,
    upserts: Long,
    deletes: Long,
    rejects: Long = 0L)

/** The reference flow's control plane re-expressed over an [[IndexStore]]
  * (SURVEY.md §3.1, T1-T11; reference flows/main_flow.py:602-762):
  * full blue/green reindex, flat or id-hash bucketed, and one incremental
  * CDC sync path that merges in place into the bucketed layout, with
  * tombstone deletes, smallest-first scheduling with the largest indexes
  * merged concurrently (T9), schema-drift-triggered reindex (T11),
  * zero-work skip, rollback of failed staging builds, orphan cleanup,
  * and post-sync count reconciliation.
  *
  * Scale design:
  *  - the FULL sync, flat or bucketed, is planned by one grouped
  *    aggregate and stages every index in ONE write over the source
  *    (`partitionBy` staging + O(1) directory promotes) — never N scans
  *    of a 100 TB table — with its per-index counts observed on that
  *    write;
  *  - the incremental round ([[incrementalSyncInPlace]]) is planned by
  *    the same aggregate, which also carries each index's drift probe,
  *    and merges each changed index through [[syncIndex]] — the step
  *    the stream's micro-batches run too — rewriting only the id-hash
  *    buckets its batch touches, with upsert/delete tallies taken via
  *    `observe()` ON the merge job itself (zero extra actions, A7);
  *  - watermarks are tracked PER INDEX, so a partial sync of some
  *    indexes can never silently skip changes in the others;
  *  - writes run under an injectable [[RetryPolicy]] (T10), with
  *    adaptive chunk degradation (T6) mapped to `maxRecordsPerFile` for
  *    the flat writes. The default policy fails fast (no sleeps);
  *    production callers inject the reference's 10-retry/backoff policy;
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
    parallelLargest: Int = 2,
    validity: Option[org.apache.spark.sql.Column] = None) {
  import SyncPipeline._

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

  /** One index's share of a round plan: its row count (for smallest-first
    * order), its high-water mark, the watermark it syncs from, the number
    * of its rows in `[wm, hwm)`, the id-hash buckets those rows touch
    * (incremental rounds only), whether its drift probe shows drift, and
    * the probe to save with its new watermark. */
  private case class IndexPlan(index: String, docs: Long, hwm: Option[String],
      wm: String, changed: Long, buckets: Seq[Long], drifted: Boolean, probe: Option[Probe])

  /** Plans a sync round in ONE grouped aggregate over the source,
    * collected to the driver: per index, its row count, high-water mark,
    * changed-row count and (for an incremental round, `buckets` set)
    * affected buckets. The per-index watermarks, probe ids and bucket
    * counts are driver-side lookups (the watermark files, the alias
    * manifest, the bucket metadata) passed in as map literals, and the
    * smallest-first order is a driver-side sort by `(count, idx)` — so
    * planning costs one aggregate however many indexes the source holds.
    * Indexes absent from the source are not planned.
    *
    * T11 rides on the same aggregate, with no store read: the watermark
    * file holds a probe, one published doc's id and drift value, and the
    * aggregate returns that id's latest source row and whether it has a
    * row in `[wm, hwm)`. The index has drifted when that latest row is
    * live, not pending, and its drift value is non-null and differs from
    * the recorded one — an out-of-band change the watermark never saw.
    * The next probe keeps the id with its latest value while it lives;
    * otherwise it is the latest live row this plan publishes (any row,
    * for a full sync; a changed row, for an incremental round), so a
    * probe's value is always one the store holds. Drift values are
    * parsed on the driver from the few documents returned. */
  private def planRound(env: DataFrame, requested: Option[Seq[String]],
      buckets: Option[Int]): Seq[IndexPlan] = {
    // an index with no watermark of its own syncs from the global one
    val own = watermarks.indexes()
    val wms = own.map(i => i -> watermarks.loadOrEpoch(i)).toMap
    val probes = own.flatMap(i => watermarks.probe(i).map(i -> _)).toMap
    val changed = col(UpdatedAt) >= coalesce(element_at(typedLit(wms), col(Idx)),
      lit(watermarks.loadOrEpoch())).cast("timestamp")
    val touched = buckets.fold(typedLit(Seq.empty[Long]))(
      InPlaceMerge.affectedBuckets(store, store.aliases(), changed, _))
    val isProbe = col(Id) === element_at(typedLit(probes.map { case (i, p) => i -> p.id }), col(Idx))
    val dated = col(UpdatedAt).isNotNull
    val live = dated && !col(IsDeleted) && col(Id).isNotNull && validity.fold(lit(true))(_ => validCol)
    val published = if (buckets.isDefined) live && changed else live
    env.where(requested.fold(col(Idx).isNotNull)(xs => col(Idx).isin(xs.map(_.toLowerCase): _*)))
      .groupBy(Idx)
      .agg(count(col(Id)), hwmOf, count_if(changed), touched,
        max(when(isProbe && dated, struct(col(UpdatedAt), col(IsDeleted), col(Document)))),
        count_if(isProbe && changed),
        max(when(published, struct(col(UpdatedAt), col(Document), col(Id)))))
      .collect()
      .map { r =>
        val idx = r.getString(0)
        val latest = Option(r.getStruct(5)).filterNot(_.getBoolean(1)).flatMap(p => driftValue(p.getString(2)))
        val recorded = probes.get(idx)
        val drifted = r.getLong(6) == 0 && recorded.exists(p => latest.exists(_ != p.value))
        val next = recorded.flatMap(p => latest.map(Probe(p.id, _))).orElse(
          Option(r.getStruct(7)).flatMap(c => driftValue(c.getString(1)).map(Probe(c.getString(2), _))))
        IndexPlan(idx, r.getLong(1), Option(r.getString(2)), watermarks.loadOrEpoch(idx),
          r.getLong(3), r.getSeq[Long](4).sorted, drifted, next)
      }
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

  /** The flat physical write (chunked + retried, T10/T6): on adaptive
    * mode, repeated failure shrinks the write chunk (maxRecordsPerFile)
    * along the reference's 500→…→1 schedule. For frames whose rows are
    * already validated ([[insertInto]]'s old ∪ screened-new union). */
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

  /** The SQL INSERT surface (the [[graft.sources.GraftCatalog]] write
    * path): append `df` to the live index behind `alias` — or replace
    * it, for INSERT OVERWRITE — through a staged write and the atomic
    * alias swap every full publish uses. Blue/green, not
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
    * The batch size is observed on the write of the new batch.
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
    val (goodNew, rejects) = quarantineSplit(noBucket(observed), quarantineBatch(physical))
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

  /** Validity split for the paths that write their own layout: writes
    * the poison side to the quarantine slice `slice` (overwrite, so a
    * retried or replayed batch rewrites its own slice) and returns the
    * good side + reject count. The extra count action runs only with a
    * validity predicate configured, over the (small) batch. */
  private def quarantineSplit(df: DataFrame, slice: String): (DataFrame, Long) =
    validity match {
      case None => (df, 0L)
      case Some(_) =>
        val valid = validCol
        val bad = df.where(!valid)
        val n = bad.count()
        if (n > 0) retry.retry(() => store.writePhysical(slice, bad, None))
        (df.where(valid), n)
    }

  /** Batch dir `batch` of `physical`'s quarantine. One quarantine holds
    * a dir per write that rejected rows (a full sync, each round, each
    * micro-batch), so they accumulate until inspected. */
  private def quarantineBatch(physical: String, batch: String = s"sync_${System.nanoTime()}"): String =
    s"${store.RejectPrefix}$physical/gbatch=$batch"

  /** Full blue/green sync (T4; reference main_flow full_sync branch),
    * flat or, with `buckets` set, in the id-hash-bucket layout the
    * in-place incremental path merges into. One grouped aggregate plans
    * it (the index list, the smallest-first order and each index's
    * high-water mark and drift probe, [[planRound]]); [[publishFull]]
    * then publishes it. A requested index the source lacks publishes
    * empty. */
  def fullSync(env: DataFrame, indexes: Option[Seq[String]] = None,
      timestamp: String, buckets: Option[Int] = None): Seq[IndexSyncReport] = {
    val plan = planRound(env, indexes, buckets = None)
    val absent = indexes.toSeq.flatten.map(_.toLowerCase).distinct.filterNot(plan.map(_.index).contains)
    publishFull(env, plan, absent, timestamp, buckets)
  }

  /** Publishes the planned indexes and the `absent` ones (empty) in full:
    * ONE scan of the source stages every index in one write,
    * partitioned by index (and by validity and bucket, when set); each
    * index's slice is promoted (O(1) rename) and its alias swapped,
    * smallest first (renames, so `parallelLargest` has nothing to
    * overlap here). A bucketed stage is first repartitioned by (index,
    * bucket), so each bucket of each index is one file, the layout
    * merges and compaction keep. Per-index live and reject counts are
    * observed on the stage write — no count job per index. A failure
    * rolls back the stage and any unswapped promotes (T8) and rethrows.
    * Saves each planned index's watermark and probe. */
  private def publishFull(env: DataFrame, plan: Seq[IndexPlan], absent: Seq[String],
      timestamp: String, buckets: Option[Int]): Seq[IndexSyncReport] = {
    val planned = plan.map(_.index)
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
    saveWatermarks(plan)
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

  /** In-place bucketed incremental sync — the one incremental path
    * (T1/T3; reference flows/main_flow.py:316-333,366-395,673-762). It
    * mirrors the reference's in-place bulk upsert at partition
    * granularity: physical indexes are partitioned by id-hash bucket and
    * ONLY the buckets a batch touches are rewritten (partition-pruned
    * read, per-bucket swap). Incremental cost ∝ |delta| ×
    * (index/buckets), not |index|. Bootstrap with [[fullSyncBucketed]];
    * an index with no bound physical gets a fresh one with `buckets`
    * buckets from its first merge.
    *
    * A round is planned by ONE grouped aggregate over the source
    * ([[planRound]]), so its fixed Spark cost does not grow with the
    * number of indexes. Per index, in smallest-first order: a drifted
    * index (T11, from the plan's probe) is rebuilt bucketed at its own
    * bucket count and reports `full`; an index with no changes reports
    * `skipped` with no further Spark work; a changed index merges
    * exactly its `[wm, hwm)` rows — the rows the plan counted — into the
    * planned buckets through [[syncIndex]]. The drift check runs for
    * unchanged indexes too: an out-of-band rewrite that moves no
    * watermark is exactly what it exists to catch. Watermarks advance
    * per index, to each planned index's own hwm. */
  def incrementalSyncInPlace(env: DataFrame, indexes: Option[Seq[String]] = None,
      buckets: Int = DefaultBuckets): Seq[IndexSyncReport] = {
    val plan = planRound(env, indexes, Some(buckets))
    val (drifted, rest) = plan.partition(_.drifted)
    // rebuilds run before any merge: their orphan cleanup must not race
    // a merge's fresh physical
    val rebuilt = drifted.groupBy(p => store.aliases().get(p.index).flatMap(store.bucketCountOf)
        .getOrElse(buckets)).toSeq
      .flatMap { case (n, ps) => publishFull(env, ps, Nil, s"drift${System.nanoTime()}", Some(n)) }
    val merged = runSmallestFirstLargestParallel(rest) { p =>
      if (p.changed == 0) skipped(p.index)
      else syncIndex(p.index, roundBatch(env, p), p.buckets, s"sync_${System.nanoTime()}", buckets)
    }
    saveWatermarks(rest)
    val byIndex = (rebuilt ++ merged).map(r => r.index -> r).toMap
    plan.map(p => byIndex(p.index))
  }

  /** The one incremental step, shared by the batch round and the
    * stream's micro-batches: quarantine `batch`'s poison rows (K1) in
    * batch dir `rejectBatch` of the bound physical's quarantine (a rerun
    * of the same batch overwrites its own dir), then merge the good rows
    * in place into the `affected` buckets under the retry policy (T10).
    * The merge reads the index inside the retried thunk, so a retry
    * after a partial bucket swap lists the files afresh; the merge is
    * idempotent by id. An alias with no bound physical is first bound
    * to a fresh, empty bucketed one with `buckets` buckets. With
    * `observed`, the report carries the merge's upsert/delete tallies;
    * without — inside a streaming `foreachBatch`, where `Observation`
    * metrics never fire — they read 0. */
  private[graft] def syncIndex(alias: String, batch: DataFrame, affected: Seq[Long],
      rejectBatch: String, buckets: Int, observed: Boolean = true): IndexSyncReport = {
    val physical = store.aliases().getOrElse(alias, {
      val fresh = s"${alias}_${System.nanoTime()}"
      retry.retry(() => store.writePhysicalBucketed(fresh,
        IndexerOps.emptyEnvelope(store.spark), Id, buckets))
      store.swapAlias(alias, fresh)
      fresh
    })
    val (good, rejects) = quarantineSplit(batch, quarantineBatch(physical, rejectBatch))
    val (ups, dels) =
      if (rejects > 0 && good.isEmpty) (0L, 0L)
      else retry.retry { () =>
        if (observed) InPlaceMerge(store, physical, good, buckets, affected)
        else { InPlaceMerge.applyUnobserved(store, physical, good, buckets, affected); (0L, 0L) }
      }
    IndexSyncReport(alias, physical, "incremental", ups, dels, rejects)
  }

  /** Bucketed bootstrap for the in-place incremental path: the full
    * sync in the id-hash-bucket layout. */
  def fullSyncBucketed(env: DataFrame, indexes: Option[Seq[String]] = None,
      timestamp: String, buckets: Int = DefaultBuckets): Seq[IndexSyncReport] =
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
    * deterministic analog of the reference's run-timestamp watermark),
    * saved with its next drift probe. Untouched indexes keep their old
    * watermark: no silent skips. */
  private def saveWatermarks(plan: Seq[IndexPlan]): Unit =
    plan.foreach(p => p.hwm.foreach(watermarks.save(p.index, _, p.probe)))
}

object SyncPipeline {

  /** T11's drift field: the reference's schema-name path (SURVEY J1). */
  val DriftJsonPath = "$.schema_maintainer.schema_name"

  /** Bucket count of an index the incremental path creates: the in-place
    * round's default, and the stream's. */
  val DefaultBuckets = 64

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `doc`'s [[DriftJsonPath]] value, read as `get_json_object` reads
    * it (a string's text, any other value's JSON); None for a JSON null,
    * a missing field or a doc that is not JSON. */
  private[sync] def driftValue(doc: String): Option[String] =
    scala.util.Try(json.readTree(doc)).toOption
      .flatMap(root => DriftJsonPath.stripPrefix("$.").split('.')
        .foldLeft(Option(root))((node, field) => node.flatMap(n => Option(n.get(field)))))
      .filterNot(_.isNull)
      .map(v => if (v.isTextual) v.asText else v.toString)

  /** An index's high-water mark: max `updated_at` + 1 µs (the inclusive
    * `>=` rescan then skips the boundary row), fixed-width so string
    * order is time order. */
  private[graft] def hwmOf: org.apache.spark.sql.Column =
    date_format(max(col(UpdatedAt)) + expr("INTERVAL 1 MICROSECOND"),
      "yyyy-MM-dd HH:mm:ss.SSSSSS")
}
