package graft.sync

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Local-parquet analog of the reference's Elasticsearch cluster: one
  * physical index = one parquet directory under `root`; the alias map =
  * an atomically-replaced manifest file. Mirrors the reference's catalog
  * surface (SURVEY.md S6/K2-K5; reference flows/main_flow.py:51,173-214,
  * 265-267,488-557).
  *
  * The commit protocol is the point: writers stage a *new* physical index
  * (`{alias}_{ts}`), and publishing is a manifest swap — atomic rename of
  * a small file — never an in-place mutation of data. At cluster scale
  * the same protocol is "write a new table location + CREATE OR REPLACE
  * VIEW": the data move is O(rows) but the commit is O(1), and a failed
  * run leaves only unreferenced staging dirs that `cleanupOrphans`
  * reclaims (K4).
  *
  * Read cost: a read lists the index directory (`hasData`, then Spark's
  * file index) and runs the query's own job. Spark's schema inference,
  * a job of its own, runs only on the first read of a physical index;
  * later reads pass the schema memoized by [[IndexStore.schemaOf]]. The
  * memo is sound because a physical index's columns never change after
  * its first write: names are unique per write (`{alias}_{ts}`,
  * `{alias}_ins_{nanos}`), and in-place merges ([[replaceBuckets]]) and
  * compaction write the same columns. Every method that writes,
  * promotes into or deletes a directory drops the memo entries on that
  * path, below it and above it, so a rewritten directory is inferred
  * afresh. A slice promoted out of a stage this store wrote is memoized
  * at the promote from the stage's written columns, with no inference
  * job.
  */
class IndexStore(val spark: SparkSession, val root: String,
    staleStageGraceMs: Long = IndexStore.DefaultStaleStageGraceMs) {
  private val rootPath: Path = Paths.get(root)
  private val manifestPath: Path = rootPath.resolve("_aliases.json")
  // Spark still DEFAULTS to legacy INT96 parquet timestamps, whose
  // min/max statistics readers must ignore — every timestamp the store
  // writes would be invisible to predicate pushdown and row-group
  // skipping, so incremental watermark scans (S2) would read whole
  // indexes. INT64 micros matches the envelope's semantics exactly and
  // restores both.
  //
  // SESSION-WIDE SIDE EFFECT, deliberately: this is a SQL conf, not a
  // per-write option (ParquetOptions exposes no outputTimestampType),
  // so constructing a store changes the parquet timestamp encoding for
  // EVERY writer sharing this SparkSession — not just store writes.
  // TIMESTAMP_MICROS is a strictly better default than INT96 for any
  // modern reader (INT96 is deprecated upstream), so we set it once
  // here rather than set/restore around each write, which would race
  // with concurrent writers on the shared session.
  spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  Files.createDirectories(rootPath)
  recoverBuckets() // restore any bucket swap a previous run crashed in
  cleanupStaleStages() // reclaim stage dirs stranded by a hard crash

  // --- catalog reads (S6) -------------------------------------------------

  /** All physical index names (ES `indices.get("*")`). */
  def physicalIndexes(): Seq[String] =
    Using.resource(Files.list(rootPath)) { s =>
      s.iterator().asScala
        .filter(p => Files.isDirectory(p))
        .map(_.getFileName.toString)
        .filterNot(_.startsWith("_"))
        .toSeq.sorted
    }

  /** alias → physical index (ES `get_alias(name="*")`). One parse shared
    * with the SQL catalog ([[graft.sources.GraftCatalog]]). */
  def aliases(): Map[String, String] =
    graft.sources.GraftCatalog.readAliases(root)

  def aliasExists(alias: String): Boolean = aliases().contains(alias)
  def indexExists(name: String): Boolean =
    Files.isDirectory(rootPath.resolve(name))

  /** True if the physical index holds at least one data file (an index
    * whose every bucket was tombstoned away has a dir but no files —
    * parquet cannot infer a schema from that). */
  def hasData(name: String): Boolean = {
    val dir = rootPath.resolve(name)
    Files.isDirectory(dir) && Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
    }
  }

  /** Read the live data behind an alias (None if unbound or physically
    * empty). */
  def read(alias: String): Option[DataFrame] =
    aliases().get(alias).filter(indexExists).filter(hasData).map(readPhysical)

  /** A physical index read with its memoized schema: no inference job
    * after the directory's first read. */
  def readPhysical(name: String): DataFrame = {
    val dir = rootPath.resolve(name)
    spark.read.schema(IndexStore.schemaOf(spark, dir)).parquet(dir.toString)
  }

  /** Doc count of the live index behind an alias (ES `es.count`). A
    * Spark count job — cheap for parquet (satisfied from row-group
    * metadata, no column data read), but still a job. */
  def count(alias: String): Long = read(alias).map(_.count()).getOrElse(0L)

  /** Publish every alias as a session view (`graft_<alias>`), so synced
    * indexes are queryable from SQL text. At cluster scale this is the
    * `CREATE OR REPLACE VIEW` half of the K5 commit protocol: re-running
    * after a swap atomically repoints readers at the new physical index.
    * Returns the registered view names. */
  def registerViews(prefix: String = "graft_"): Seq[String] =
    aliases().toSeq.sorted.flatMap { case (alias, physical) =>
      if (!indexExists(physical)) None
      else {
        val view = prefix + alias.replaceAll("[^A-Za-z0-9_]", "_")
        readPhysical(physical).createOrReplaceTempView(view)
        Some(view)
      }
    }

  /** Bind this store as a DSv2 SQL catalog: `SELECT … FROM <name>.<alias>`
    * resolves through [[graft.sources.GraftCatalog]] to the alias's
    * CURRENT physical parquet — pushdown intact, swaps repoint the next
    * query automatically (no view re-registration). NOTE: Spark caches a
    * catalog instance per name after first use, so one catalog name
    * binds to one store root for the session's lifetime. */
  def registerCatalog(name: String = "graft"): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }

  // --- writes (K1/K2) -----------------------------------------------------

  /** K2 — create/overwrite a physical index from a DataFrame. The
    * reference's load-mode settings (refresh off, replicas 0 during bulk;
    * flows/main_flow.py:186-188) map to "write staged, don't publish":
    * nothing reads this dir until `swapAlias` binds it.
    *
    * `maxRecordsPerFile` is T5's bounded write chunk (the reference's
    * 500-action bulk batches, flows/main_flow.py:414): it caps the unit
    * of work a retry re-does and what a reader must buffer. */
  def writePhysical(name: String, df: DataFrame,
      maxRecordsPerFile: Option[Int] = None): Unit = rewriting(name) {
    val w = df.write.mode(SaveMode.Overwrite)
    maxRecordsPerFile.foreach(n => w.option("maxRecordsPerFile", n.toLong))
    NioLocalFileSystem.parquet(w, rootPath.resolve(name).toString)
  }

  // --- bucketed layout (in-place incremental merges) ----------------------

  /** Deterministic id-hash bucket column for the bucketed layout. */
  def bucketExpr(idCol: String, buckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    IndexStore.bucketOf(col(idCol), lit(buckets.toLong))
  }

  /** Write a physical index partitioned by id-hash bucket. The bucketed
    * layout is what makes in-place incremental merges proportional to
    * the DELTA (×N/buckets) instead of the index: only partitions whose
    * ids changed get rewritten. The bucket count is persisted as index
    * metadata (an underscore file parquet readers ignore), so merges
    * after a [[graft.sync.SyncPipeline.rescaleBuckets]] can never use a
    * stale count. */
  def writePhysicalBucketed(name: String, df: DataFrame, idCol: String,
      buckets: Int): Unit = rewriting(name) {
    NioLocalFileSystem.parquet(df.withColumn(BucketKey, bucketExpr(idCol, buckets))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(BucketKey), rootPath.resolve(name).toString)
    writeBucketCount(name, buckets)
  }

  private def writeBucketCount(name: String, buckets: Int): Unit =
    Files.writeString(rootPath.resolve(name).resolve(BucketMetaFile), buckets.toString)

  /** The bucket count a bucketed physical index was written with (None
    * for pre-metadata or non-bucketed indexes). */
  def bucketCountOf(name: String): Option[Int] = {
    val meta = rootPath.resolve(name).resolve(BucketMetaFile)
    if (Files.exists(meta)) scala.util.Try(Files.readString(meta).trim.toInt).toOption
    else None
  }

  private val BucketMetaFile = "_graft_buckets"

  /** Replace ONLY the listed bucket partitions with `df`'s content
    * (`df` must carry [[BucketKey]]); all other partitions' files are
    * untouched — the reference's in-place bulk upsert, at partition
    * granularity. Swap protocol, per bucket: old partition dir is moved
    * ASIDE (never deleted first), the staged replacement is moved in,
    * then the backup is dropped — the bucket's data exists in either
    * the live dir or its `_bak_` dir at every instant, so a crash
    * anywhere loses nothing; [[recoverBuckets]] restores any stranded
    * backup whose swap never completed. A bucket emptied by tombstones
    * has no staged dir and its old partition is (intentionally)
    * dropped after the others swap. */
  def replaceBuckets(name: String, df: DataFrame, affected: Seq[Long]): Unit = {
    val tag = System.nanoTime()
    val stage = s"_merge_${name.replace('/', '_')}_$tag"
    NioLocalFileSystem.parquet(df.write.mode(SaveMode.Overwrite).partitionBy(BucketKey),
      rootPath.resolve(stage).toString)
    try {
      affected.foreach { b =>
        val src = rootPath.resolve(stage).resolve(s"$BucketKey=$b")
        val target = rootPath.resolve(name).resolve(s"$BucketKey=$b")
        val backup = rootPath.resolve(s"_bak_${tag}_${name.replace('/', '_')}_$b")
        if (Files.isDirectory(src)) {
          if (Files.isDirectory(target))
            Files.move(target, backup, StandardCopyOption.ATOMIC_MOVE)
          Files.move(src, target, StandardCopyOption.ATOMIC_MOVE)
          deletePhysical(backup.getFileName.toString)
        } else {
          // bucket emptied by tombstones: drop its old partition
          deletePhysical(s"$name/$BucketKey=$b")
        }
      }
    } catch {
      case e: Throwable =>
        // a non-crash failure mid-loop must not leave a sidelined bucket
        // in its _bak_ dir until some future bootstrap: restore it NOW,
        // or this process keeps serving the index missing a bucket.
        // recoverBuckets is idempotent + synchronized. (replaceBuckets
        // itself is never invoked concurrently on one store — merges are
        // sequential per stream/pipeline.)
        try recoverBuckets() catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    } finally dropStage(stage)
  }

  /** Restore bucket backups stranded by a crash mid-[[replaceBuckets]]:
    * a `_bak_<tag>_<index>_<bucket>` dir whose live partition is missing
    * is moved back; one whose live partition exists means the swap
    * completed and the backup is droppable. Call at startup. */
  def recoverBuckets(): Seq[String] = synchronized {
    val Bak = "^_bak_\\d+_(.+)_(\\d+)$".r
    Using.resource(Files.list(rootPath)) { s =>
      s.iterator().asScala
        .filter(p => Files.isDirectory(p))
        .flatMap { p =>
          p.getFileName.toString match {
            case n @ Bak(idx, bucket) =>
              val target = rootPath.resolve(idx).resolve(s"$BucketKey=$bucket")
              if (!Files.isDirectory(target) && Files.isDirectory(rootPath.resolve(idx))) {
                Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
                Some(s"restored $n")
              } else {
                deletePhysical(n)
                Some(s"dropped $n")
              }
            case _ => None
          }
        }.toList
    }
  }

  /** Reclaim `_merge_*` / `_stage_*` dirs stranded by a hard crash,
    * skipping any younger than the grace period: "no writer in flight at
    * bootstrap" holds for THIS process, but another process (a read-only
    * monitor, a second pipeline handle on the same root) may construct a
    * store while a sync is mid-publish — deleting its live stage would
    * silently degrade every promote to a per-index rebuild. A crashed
    * run's stage ages past the grace and is reclaimed at a later boot.
    * `_checkpoints` (streaming offsets) and `_bak_*` (recoverBuckets'
    * jurisdiction) are kept. Returns dropped names. */
  def cleanupStaleStages(): Seq[String] = synchronized {
    val cutoff = System.currentTimeMillis() - staleStageGraceMs
    // a LIVE stage write keeps creating files, but only under nested
    // task-attempt dirs — the top dir's mtime is its creation time. Age
    // by the NEWEST mtime in the tree, so a multi-hour staging write
    // stays protected for as long as it keeps making progress, while a
    // crashed write's tree stops aging and is reclaimed after the grace.
    // The grace period exists precisely because another process may be
    // mid-publish; if it promotes a slice or drops its stage while this
    // walk iterates, the walk (or a per-entry mtime read) throws
    // NoSuchFileException. A vanished/unreadable entry means a LIVE
    // writer — treat it as maximally fresh so a concurrent publish can
    // never crash bootstrap or get its stage reclaimed.
    def newestMtime(p: Path): Long =
      scala.util.Try {
        Using.resource(Files.walk(p)) { s =>
          s.iterator().asScala
            .map(q => scala.util.Try(Files.getLastModifiedTime(q).toMillis)
              .getOrElse(Long.MaxValue))
            .foldLeft(0L)(math.max)
        }
      }.getOrElse(Long.MaxValue)
    val stale = Using.resource(Files.list(rootPath)) { s =>
      s.iterator().asScala
        .filter(p => Files.isDirectory(p))
        .filter(p => {
          val n = p.getFileName.toString
          n.startsWith("_merge_") || n.startsWith("_stage_")
        })
        .filter(p => newestMtime(p) <= cutoff)
        .map(_.getFileName.toString)
        .toList
    }
    stale.foreach(deletePhysical)
    stale.sorted
  }

  private val PartTag = "i_"

  val BucketKey = "_id_bucket"

  /** Single-pass multi-index staging: ONE scan of `df` writes every
    * index's slice, hash-partitioned into per-index directories
    * (`partitionBy` on a duplicated key column, so data files keep the
    * full envelope). This replaces N per-index scans of the source —
    * the difference between 1× and N× I/O at 100 TB. `subParts` (e.g.
    * the tolerant sink's validity flag, the id-hash bucket) add
    * partition levels under each index — still one scan.
    *
    * Rows are sorted by the partition columns and then `sortCol` within
    * each task: that is the order the partitioned writer needs, so it
    * adds no sort of its own, and each file keeps `sortCol` order (tight
    * min/max stats for id-keyed reads). With `clustered`, the frame is
    * first repartitioned by every partition column, so each leaf
    * partition is written by one task: one file per leaf, unless
    * `maxRecordsPerFile` splits it. */
  def writePartitionedStage(stageName: String, df: DataFrame, partCol: String,
      subParts: Seq[String], sortCol: String, clustered: Boolean,
      maxRecordsPerFile: Option[Int]): Unit =
    rewriting(stageName) {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val parts = PartKey +: subParts
      // the tag prefix keeps every partition value non-numeric, so reading
      // a slice back can never mangle a numeric-looking index name
      // through partition-type inference ("0123" → 123)
      val tagged = df.withColumn(PartKey, concat(lit(PartTag), col(partCol)))
      val spread = if (clustered) tagged.repartition(parts.map(col): _*) else tagged
      val w = spread.sortWithinPartitions((parts :+ sortCol).map(col): _*)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(parts: _*)
      maxRecordsPerFile.foreach(n => w.option("maxRecordsPerFile", n.toLong))
      NioLocalFileSystem.parquet(w, rootPath.resolve(stageName).toString)
      staged(stageName, tagged, parts)
    }

  /** The data schema (partition columns excluded) of each stage written
    * and not yet dropped: every data file of the stage has it, so a slice
    * promoted out of it gets its schema memoized without an inference
    * job. */
  private val stageSchemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  // parquet files carry the all-nullable form of the written columns
  private def staged(stageName: String, df: DataFrame, parts: Seq[String]): Unit =
    stageSchemas.put(stageName, org.apache.spark.sql.graft.Bridge.asNullable(
      StructType(df.schema.filterNot(f => parts.contains(f.name)))))

  /** Directory name of one index's slice inside a partitioned stage. */
  def partSliceDir(partValue: String): String = s"$PartKey=$PartTag$partValue"

  /** Move one partition dir (`dirName`, relative to the stage) out of a
    * stage to `physical` (O(1) rename, no data move), creating the
    * target's parent dirs; false if the stage holds no such dir. With
    * `buckets` set, the promoted dir is a bucketed index and gets its
    * bucket-count metadata (see [[writePhysicalBucketed]]). */
  def promoteSlice(stageName: String, dirName: String, physical: String,
      buckets: Option[Int] = None): Boolean = {
    val slice = rootPath.resolve(stageName).resolve(dirName)
    val target = rootPath.resolve(physical)
    if (!Files.isDirectory(slice)) false
    else {
      rewriting(physical) {
        deletePhysical(physical)
        Files.createDirectories(target.getParent)
        Files.move(slice, target, StandardCopyOption.ATOMIC_MOVE)
        buckets.foreach(writeBucketCount(physical, _))
      }
      Option(stageSchemas.get(stageName)).foreach(IndexStore.seed(spark, target, _))
      true
    }
  }

  /** Split a frame into one partition dir per value of `splitCol` (the
    * column itself is dropped from the data files — unlike
    * [[writePartitionedStage]], which deliberately keeps the envelope) —
    * the valid/reject fork of the error-tolerant sink. One scan writes
    * both sides. */
  def writeSplitStage(stageName: String, df: DataFrame, splitCol: String,
      maxRecordsPerFile: Option[Int] = None): Unit = rewriting(stageName) {
    val w = df.write.mode(SaveMode.Overwrite).partitionBy(splitCol)
    maxRecordsPerFile.foreach(n => w.option("maxRecordsPerFile", n.toLong))
    NioLocalFileSystem.parquet(w, rootPath.resolve(stageName).toString)
    staged(stageName, df, Seq(splitCol))
  }

  /** Quarantined rows of a physical index's last tolerant write (None if
    * it had none). Quarantine dirs are underscore-prefixed — invisible
    * to [[physicalIndexes]]/[[cleanupOrphans]] — and persist until
    * explicitly dropped ([[dropRejected]]): they exist to be inspected.
    * A successful later sync does NOT reclaim an earlier sync's
    * quarantine (blue/green quarantines are keyed by the timestamped
    * physical name, so they never collide); rollback of a FAILED sync
    * does delete that sync's own quarantine, since its rows were never
    * reported. */
  def rejected(physical: String): Option[DataFrame] = {
    val name = s"$RejectPrefix$physical"
    if (indexExists(name) && hasData(name)) Some(readPhysical(name)) else None
  }

  /** All retained quarantine dirs (physical-index key, [[RejectPrefix]]
    * stripped) — the inspection/reclamation inventory. */
  def rejectedIndexes(): Seq[String] =
    Using.resource(Files.list(rootPath)) { s =>
      s.iterator().asScala
        .filter(p => Files.isDirectory(p))
        .map(_.getFileName.toString)
        .filter(_.startsWith(RejectPrefix))
        .map(_.stripPrefix(RejectPrefix))
        .toSeq.sorted
    }

  /** Explicitly reclaim one quarantine after inspection. */
  def dropRejected(physical: String): Unit =
    deletePhysical(s"$RejectPrefix$physical")

  val RejectPrefix = "_rejects_"

  /** Remove a partitioned stage dir (after all promotes, or on failure). */
  def dropStage(stageName: String): Unit = {
    stageSchemas.remove(stageName)
    deletePhysical(stageName)
  }

  /** Operational statistics for one live index (the ANALYZE surface an
    * operator consults before re-bucketing or compacting): row count,
    * on-disk bytes, data-file count, bucket count (None for flat
    * layouts), and bucket skew = max/mean rows per bucket (1.0 = perfectly
    * even; a hot-id workload drifts upward and tells you the id-hash is
    * no longer spreading load). One metadata-cheap count job + one
    * directory walk; the per-bucket histogram is a partition-column-only
    * aggregate (no data pages read). */
  case class IndexStats(alias: String, physical: String, rows: Long,
      bytes: Long, files: Int, buckets: Option[Int], bucketSkew: Option[Double])

  def stats(alias: String): Option[IndexStats] =
    aliases().get(alias).filter(indexExists).map { physical =>
      val dir = rootPath.resolve(physical)
      val (bytes, files) = Using.resource(Files.walk(dir)) { s =>
        s.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .foldLeft((0L, 0)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      }
      val rows = if (hasData(physical)) readPhysical(physical).count() else 0L
      val buckets = bucketCountOf(physical)
      val skew = buckets.filter(_ => rows > 0).map { _ =>
        import org.apache.spark.sql.functions.{avg, col, lit, max}
        val per = readPhysical(physical)
          .groupBy(col(BucketKey))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
          .agg(max("n"), avg("n"))
          .collect()(0)
        per.getLong(0).toDouble / per.getDouble(1)
      }
      IndexStats(alias, physical, rows, bytes, files, buckets, skew)
    }

  // --- commit protocol (K5/K3/K4) ----------------------------------------

  /** K5 — atomic alias swap: bind `alias` to `physical`, dropping any
    * previously-bound physical index (reference flows/main_flow.py:524-557
    * restores settings, put_alias, deletes old). The manifest replace is
    * atomic (write temp + ATOMIC_MOVE), so readers see either the old or
    * the new binding, never a partial state. */
  def swapAlias(alias: String, physical: String): Unit = synchronized {
    require(indexExists(physical), s"cannot bind $alias to missing $physical")
    val old = aliases().get(alias)
    writeManifest(aliases() + (alias -> physical))
    // the old DATA is superseded and dropped; its quarantine is NOT — a
    // sync's reported reject rows stay inspectable until an explicit
    // [[dropRejected]] (they are tiny by construction, and deleting them
    // on the next publish would give an hourly pipeline a one-cycle
    // inspection window)
    old.filter(_ != physical).foreach(deletePhysical)
  }

  /** K3 — rollback hook: delete a staged physical index after a failed
    * build (reference delete_indexes on_failure, flows/main_flow.py:195-214). */
  def deletePhysical(name: String): Unit = rewriting(name) {
    val dir = rootPath.resolve(name)
    if (Files.exists(dir)) {
      Using.resource(Files.walk(dir)) { s =>
        s.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
      }
    }
  }

  /** Runs a write, promote or delete of `name`, then drops the schema
    * memo on that path, even if the body failed part-way. */
  private def rewriting[A](name: String)(body: => A): A =
    try body finally IndexStore.forget(rootPath.resolve(name))

  /** K4 — orphan cleanup: drop every physical index not bound by any
    * alias (reference cleanup_indexes, flows/main_flow.py:488-520 keeps
    * indexes whose name contains a live alias; binding-based is the
    * strictly-safer form of the same reconciliation). Returns dropped. */
  def cleanupOrphans(): Seq[String] = synchronized {
    val live = aliases().values.toSet
    val orphans = physicalIndexes().filterNot(live)
    orphans.foreach(deletePhysical)
    orphans
  }

  val PartKey = "_graft_part"

  private def writeManifest(m: Map[String, String]): Unit = {
    val tmp = rootPath.resolve(s"_aliases.json.tmp")
    Files.writeString(tmp, m.toSeq.sorted.map { case (a, p) => s"$a=$p" }.mkString("\n"))
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

object IndexStore {
  private val schemas = scala.collection.mutable.HashMap.empty[String, StructType]
  /** An inference in flight; a [[forget]] of an overlapping path while it
    * runs marks it stale, and a stale result is returned but not kept. */
  private final class Inference(val key: String) { var stale = false }
  private val inflight = scala.collection.mutable.Set.empty[Inference]

  private def keyOf(dir: Path): String = dir.toAbsolutePath.normalize.toString

  /** `a` is `b`, or lies below or above it. */
  private def overlaps(a: String, b: String): Boolean = {
    val sep = java.io.File.separator
    a == b || a.startsWith(b + sep) || b.startsWith(a + sep)
  }

  /** The schema of the parquet directory `dir`, inferred by Spark on the
    * first call and memoized by absolute path after it. Sound only for
    * directories whose columns never change once written, which holds
    * for the store's physical indexes (see [[IndexStore]]); the store
    * [[forget]]s every path it rewrites. */
  def schemaOf(spark: SparkSession, dir: Path): StructType =
    memo(dir)(spark.read.parquet(_).schema)

  /** Memoizes the schema of `dir`, whose data files all have the data
    * schema `data`: Spark then infers only the partition columns, from
    * directory names — a listing, no job. */
  private[sync] def seed(spark: SparkSession, dir: Path, data: StructType): Unit =
    memo(dir)(spark.read.schema(data).parquet(_).schema)

  private def memo(dir: Path)(infer: String => StructType): StructType = {
    val key = keyOf(dir)
    synchronized(schemas.get(key)).getOrElse {
      val inference = new Inference(key)
      synchronized(inflight += inference)
      try {
        val inferred = infer(key)
        synchronized { if (!inference.stale) schemas(key) = inferred }
        inferred
      } finally synchronized(inflight -= inference)
    }
  }

  /** Drops the memoized schemas of `dir`, of every directory below it
    * and of every directory above it (a directory's inferred schema
    * covers the files of its subdirectories). */
  private[sync] def forget(dir: Path): Unit = {
    val key = keyOf(dir)
    synchronized {
      schemas.filterInPlace((k, _) => !overlaps(k, key))
      inflight.filter(i => overlaps(i.key, key)).foreach(_.stale = true)
    }
  }

  /** Stage dirs younger than this survive bootstrap cleanup — long
    * enough to protect another process's in-flight publish, short
    * enough that a crashed run's stage reclaims on the next boot. */
  val DefaultStaleStageGraceMs: Long = 60L * 60L * 1000L

  /** The id-hash bucket of `id` under `buckets` buckets. `buckets` is a
    * column, so one aggregate can place rows of indexes that were
    * written with different bucket counts. */
  def bucketOf(id: org.apache.spark.sql.Column,
      buckets: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{pmod, xxhash64}
    pmod(xxhash64(id), buckets)
  }
}
