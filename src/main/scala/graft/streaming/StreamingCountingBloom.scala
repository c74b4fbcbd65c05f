package graft.streaming

import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming COUNTING Bloom ingest screen — [[StreamingBloom]]'s
  * delete-capable twin, closing the one "cannot" that scaladoc names:
  * the bit stream's OR-fold is what makes slice replay idempotent, so
  * it can never un-set a key and removing corpus content means a
  * generational re-screen ([[StreamingBloom.rebuildInto]]). The
  * counting form gets BOTH properties at once because its fold is a
  * SUM: each micro-batch writes one slice of per-position count
  * DELTAS (+1 per accepted insert's position, −1 per applied delete's
  * position — a slice may hold negative rows), slices are keyed by
  * batch id with latest-wins overwrite, and the read-side fold
  * `SUM(cnt) GROUP BY pos` is associative, commutative, and replay-
  * idempotent (a re-run batch overwrites ITS OWN slice, never
  * double-counts). Deleted content's positions fold back to zero, so
  * a later re-presentation screens `maybe_seen = false` and is
  * RE-ACCEPTED — the rolling-retention / right-to-be-forgotten
  * semantics the batch counting family (x103/x104) provides, now
  * online.
  *
  * Each micro-batch carries mixed operations `(doc_id, text, op)`
  * with `op ∈ {insert, delete}`; all verdicts evaluate against the
  * STRICTLY-EARLIER state (the replay view), so within a batch the
  * two op kinds are order-independent by construction:
  *
  *  1. INSERTS screen against the folded counting state
  *     ([[graft.operators.Dedup.countingBloomScreen]] — khash position
  *     rows per doc against the fixed-size frame, never a key join);
  *     accepted = definitely-new ∧ first-in-batch per key (lowest
  *     doc_id — the [[StreamingDedup]] greedy policy).
  *  2. DELETES validate EXACTLY against the live-key record — the
  *     per-batch `(content_key, delta)` slices, the streamed form of
  *     [[graft.operators.Dedup.ingestScreenCounting]]'s in-corpus
  *     semi-join: a delete of a never-accepted (or already-deleted)
  *     key is recorded with `applied = false` and contributes NO
  *     decrement, because a blind decrement is the one operation that
  *     silently voids the no-false-negative guarantee. Exactness here
  *     is cheap where it matters: the INSERT path (the volume) never
  *     touches the key record; only delete rows (the trickle) pay the
  *     semi-join against it.
  *  3. The batch's verdicts, its key deltas, and its counting-delta
  *     slice all write under `gbatch=<id>` — the key-delta history
  *     doubles as the artifact's exact key-level record, so a
  *     geometry resize folds live keys from the screen's own output
  *     ([[rebuildInto]]), never from the corpus.
  *
  * Same-batch insert+delete of one key resolves deterministically:
  * the delete needs the key LIVE in pre-batch state, the insert needs
  * it ABSENT — at most one applies, both engines agree, and the x106
  * oracle replays it. Live multiplicity per key is ≤ 1 (the stream
  * accepts each content once), so the folded state after any batch
  * equals [[graft.operators.Dedup.countingBloomBits]] over the live
  * key SET — the equivalence the spec pins and the oracle exploits.
  *
  * Geometry is pinned per artifact ([[SlicedArtifact.pinConstants]],
  * the [[StreamingBloom]] guard): changed (mbits, khash) relocates
  * every position and would SUM incompatible generations silently.
  *
  * State reads are BOUNDED by automatic slice compaction
  * ([[FoldCompaction]]): once more than `maxLiveSlices` slices
  * accumulate, everything strictly below the newest batch folds into
  * one pointer-committed generation — per-batch read cost is then one
  * base dir plus at most `maxLiveSlices` slices regardless of stream
  * length, and the newest batch (the only one that can still replay)
  * is never absorbed, so checkpoint replays keep their exact
  * pre-batch view. Both state roots (counts and the key-delta record)
  * compact together; the verdict chain stays append-only (it is the
  * audit log, read at audit cadence, not per batch). */
class StreamingCountingBloom(artifactDir: String, outDir: String,
    mbits: Int = Dedup.BloomMBits, khash: Int = Dedup.BloomHashes,
    maxLiveSlices: Int = StreamingCountingBloom.MaxLiveSlices,
    compactionGraceMs: Long = SlicedArtifact.CompactionGraceMs,
    exactKeys: Boolean = false,
    compactionNumFiles: Int = 1,
    shards: Int = 1) {

  require(shards >= 1, s"shards must be >= 1: $shards")

  // `exactKeys` switches the content key from the dedup recipe
  // (md5 of NORMALIZED text) to the content fingerprint (md5 of the
  // text EXACT) — the keying for a filter that must answer "is this
  // exact content indexed" rather than "is this a near-duplicate" (the
  // two recipes answer different questions).
  // `shards > 1` is the SCALE path past the flat frame's ~10^8-key
  // ceiling — the batch family's `(shard, pos)` keying
  // ([[graft.operators.Dedup.shardedCountingBloomBits]]) applied to
  // the slice deltas, each shard counting in its own mbits space, the
  // screen an equi-join on `(shard, pos)`. Shards = 1 IS the flat
  // chain, byte-for-byte (the sharded-family standing pin). Both
  // extras enter the constants digest only when non-default, so
  // existing artifacts keep their pre-upgrade digests while a
  // cross-mode reopen refuses (a changed shard count relocates every
  // key's shard routing and would SUM incompatible generations).
  SlicedArtifact.pinConstants(artifactDir,
    SlicedArtifact.section("cntbloomgeom", Seq(mbits, khash),
      (if (exactKeys) Iterator("exactKeys") else Iterator.empty) ++
        (if (shards > 1) Iterator(s"shards=$shards") else Iterator.empty)),
    "counting bloom geometry (mbits, khash)")

  private def keyOf(text: org.apache.spark.sql.Column) =
    if (exactKeys) md5(text) else md5(TextOps.normText(text))

  // the slice/state position key: `(shard, pos)` sharded, `pos` flat —
  // one list so every fold, join and group below stays a single code
  // path across both geometries
  private def posCols: Seq[String] =
    if (shards > 1) Seq("shard", "pos") else Seq("pos")

  private def bitsOf(keys: DataFrame): DataFrame =
    if (shards > 1) Dedup.shardedCountingBloomBits(keys, shards, mbits, khash)
    else Dedup.countingBloomBits(keys, mbits, khash)

  private def slice(root: String, batchId: Long) = s"$root/gbatch=$batchId"
  private def cntRoot = s"$artifactDir/counts"
  private def keyRoot = s"$artifactDir/keys"

  /** Run to completion of available data; returns DISTINCT
    * micro-batches run (checkpoint replays re-invoke `foreachBatch`
    * but must not double-count — the [[StreamingDedup]] convention).
    * `docsStream` rows: `(doc_id, text, op)`. */
  def screenAvailable(spark: SparkSession, docsStream: DataFrame,
      checkpoint: String): Long = {
    val seen = scala.collection.mutable.Set.empty[Long]
    val q = docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        screenBatch(batch, batchId)
        seen.synchronized { seen += batchId; () }
      }
      .start()
    q.awaitTermination()
    seen.size.toLong
  }

  /** One micro-batch of the mixed-op policy (the unit the x106 oracle
    * replays in SQL). Reads only strictly-earlier slices — a
    * checkpoint replay re-screens against exactly the state it
    * originally saw. */
  private[graft] def screenBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val keyed = batch.select(col("doc_id"), col("op"),
      keyOf(col("text")).as("content_key"))
    val ins = keyed.where(col("op") === "insert")
      .select("doc_id", "content_key")
    val del = keyed.where(col("op") === "delete")
      .select("doc_id", "content_key")
    val w = Window.partitionBy("content_key").orderBy("doc_id")
    // inserts: probabilistic screen against the pre-batch filter state
    val screened = countingState(spark, before = Some(batchId)) match {
      case Some(counts) if shards > 1 =>
        Dedup.shardedCountingBloomScreen(ins, counts, shards, mbits, khash)
      case Some(counts) =>
        Dedup.countingBloomScreen(ins, counts, mbits, khash)
      case None => ins.select(col("doc_id"), col("content_key"),
        lit(false).as("maybe_seen"))
    }
    val insV = screened.withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("content_key"),
        lit("insert").as("op"), col("maybe_seen"),
        (!col("maybe_seen") && col("rn") === 1).as("applied"))
    // deletes: EXACT validation against the pre-batch live-key record.
    // The exactness cost is paid ONLY by delete-bearing batches, and
    // only for the delete keys: an insert-only batch (the volume case)
    // short-circuits on one batch-scale count and never touches the
    // key history; a delete-bearing one folds the history FILTERED to
    // its own keys (broadcast semi-join below the aggregate — the
    // history scan is one thin column pass, the aggregate delta-wide).
    val nDel = del.count() // batch-scale; also the broadcast-cap meter
    val delV =
      if (nDel == 0L)
        del.select(col("doc_id"), col("content_key"),
          lit("delete").as("op"), lit(false).as("maybe_seen"),
          lit(false).as("applied"))
      else {
        // hint broadcast only under the COUNTED cap (the
        // screenJoinConfirmed rule): a bulk right-to-be-forgotten
        // batch past it lets the planner decide from real sizes
        val live = liveKeysAmong(spark,
          del.select("content_key").distinct(), before = Some(batchId),
          hintBroadcast = nDel <= Dedup.ConfirmBroadcastMaxSuspects)
        del.join(live.select(col("content_key"),
            lit(true).as("was_live")),
          Seq("content_key"), "left")
          .withColumn("rn", row_number().over(w))
          .select(col("doc_id"), col("content_key"),
            lit("delete").as("op"),
            coalesce(col("was_live"), lit(false)).as("maybe_seen"),
            (coalesce(col("was_live"), lit(false)) && col("rn") === 1)
              .as("applied"))
      }
    val verdicts = insV.unionByName(delV).persist()
    try {
      verdicts.write.mode(SaveMode.Overwrite).parquet(slice(outDir, batchId))
      // the key-delta slice: the artifact's exact key-level record
      verdicts.where(col("applied"))
        .select(col("content_key"),
          when(col("op") === "insert", lit(1L)).otherwise(lit(-1L))
            .as("delta"))
        .write.mode(SaveMode.Overwrite).parquet(slice(keyRoot, batchId))
      // the counting-delta slice: +bits(accepted inserts) −bits(applied
      // deletes), one full-outer over two delta-scale frames; rows may
      // be negative HERE — the fold across slices never is, by the
      // delete discipline above
      val inc = bitsOf(
        verdicts.where(col("applied") && col("op") === "insert")
          .select("content_key"))
      val dec = bitsOf(
        verdicts.where(col("applied") && col("op") === "delete")
          .select("content_key"))
        .withColumnRenamed("cnt", "dec")
      inc.join(dec, posCols, "full_outer")
        .select(posCols.map(col) :+
          (coalesce(col("cnt"), lit(0L)) - coalesce(col("dec"), lit(0L)))
            .as("cnt"): _*)
        .where(col("cnt") =!= 0)
        .write.mode(SaveMode.Overwrite).parquet(slice(cntRoot, batchId))
    } finally { verdicts.unpersist(); () }
    // bound the next batches' state reads: past the live-slice budget,
    // fold everything strictly below THIS batch (the only one that can
    // still replay) into the pointed base — both state roots together,
    // so their high-waters never diverge. The trigger meters
    // UN-ABSORBED slices only ([[FoldCompaction.liveSliceCount]]):
    // absorbed dirs linger under the reclaim grace and counting them
    // would re-trigger a full-state fold EVERY batch for the whole
    // window. `compactionNumFiles` sizes the folded base — 1 suits a
    // test artifact; a corpus-scale chain (a near-ceiling flat frame
    // is ~10^8 rows) passes a count that keeps files near the block
    // size, the [[SlicedArtifact]] compact convention.
    if (FoldCompaction.liveSliceCount(cntRoot) > maxLiveSlices) {
      FoldCompaction.compact(spark, cntRoot, batchId - 1,
        df => df.groupBy(posCols.map(col): _*).agg(sum("cnt").as("cnt"))
          .where(col("cnt") =!= 0),
        numFiles = compactionNumFiles, graceMs = compactionGraceMs)
      FoldCompaction.compact(spark, keyRoot, batchId - 1,
        df => df.groupBy("content_key").agg(sum("delta").as("delta"))
          .where(col("delta") =!= 0),
        numFiles = compactionNumFiles, graceMs = compactionGraceMs)
      ()
    }
  }

  /** The counting state as `(pos, cnt > 0)` rows: the SUM-fold of the
    * pointed base plus every live slice (strictly below `before` when
    * given — the replay view, which [[FoldCompaction.scoped]] refuses
    * at or below the compaction high-water rather than serving
    * wrong). None before any batch wrote. Zero rows drop (a deleted
    * key's positions leave the frame, exactly the batch
    * [[graft.operators.Dedup.countingBloomRemove]] contract). */
  def countingState(spark: SparkSession, before: Option[Long] = None)
      : Option[DataFrame] =
    FoldCompaction.scoped(spark, cntRoot, before)
      .map(_.groupBy(posCols.map(col): _*).agg(sum("cnt").as("cnt"))
        .where(col("cnt") > 0))

  /** The LIVE key set (multiplicity ≤ 1 by the accept policy): the
    * key-delta fold, keys whose delta sum is positive. None before
    * any batch wrote. */
  def liveKeys(spark: SparkSession, before: Option[Long] = None)
      : Option[DataFrame] =
    FoldCompaction.scoped(spark, keyRoot, before)
      .map(_.groupBy("content_key").agg(sum("delta").as("n"))
        .where(col("n") > 0).select("content_key"))

  /** [[liveKeys]] restricted to `keys` BEFORE the fold (broadcast
    * semi-join under the aggregate): the delete-validation shape —
    * the history scan stays one thin column pass, but the aggregate
    * carries only the delete keys' rows instead of every key ever
    * accepted. Empty when no batch wrote. */
  private def liveKeysAmong(spark: SparkSession, keys: DataFrame,
      before: Option[Long], hintBroadcast: Boolean): DataFrame =
    FoldCompaction.scoped(spark, keyRoot, before) match {
      case None => keys.select(col("content_key")).limit(0)
      case Some(all) =>
        val k = keys.select("content_key")
        all.join(if (hintBroadcast) broadcast(k) else k,
            Seq("content_key"), "left_semi")
          .groupBy("content_key").agg(sum("delta").as("n"))
          .where(col("n") > 0).select("content_key")
    }

  /** All verdicts written so far. */
  def verdicts(spark: SparkSession): Option[DataFrame] = {
    val d = new java.io.File(outDir)
    if (!d.isDirectory) None
    else Some(spark.read.parquet(outDir).drop("gbatch"))
  }

  /** Maintenance report: [[graft.operators.Dedup.countingBloomStats]]
    * over the folded state (EXACT live-key count — Σcnt = khash·live)
    * plus the half-full resize recommendation and the corruption
    * refusal a summed fold makes checkable: any position folding
    * NEGATIVE means a slice decremented evidence it never added (a
    * hand-edited or cross-geometry artifact) and the screen's
    * guarantee is void — loud, never a warning. None before any batch
    * wrote. */
  def stats(spark: SparkSession): Option[(Dedup.BloomStats, Boolean)] =
    FoldCompaction.scoped(spark, cntRoot, None).map { raw =>
      val folded = raw.groupBy(posCols.map(col): _*)
        .agg(sum("cnt").as("cnt"))
      val negative = folded.where(col("cnt") < 0).count()
      require(negative == 0L,
        s"$negative position(s) fold negative — a slice decremented " +
          "evidence it never added; the artifact is corrupt and the " +
          "no-false-negative guarantee is void")
      val st = Dedup.countingBloomStats(folded.where(col("cnt") > 0),
        mbits, khash, shards)
      (st, st.fillRatio > 0.5)
    }

  /** Resize executor — [[StreamingBloom.rebuildInto]] simplified by
    * the exact key record: fold the LIVE keys from the key-delta
    * history into a fresh artifact at the new geometry (one inherited
    * `gbatch=-1` key slice, all deltas +1, plus the matching counting
    * slice — staged and moved into place last, the commit point).
    * The corpus is never read; deletes already left the record.
    * `newShards > 1` is THE scale migration: a flat chain outgrowing
    * its position space ([[stats]]' half-full flag at mbits near
    * 2^30) folds its live keys into a SHARDED generation
    * ([[graft.operators.Dedup.adaptiveCountingGeometry]] sizes both
    * knobs from the exact live count this artifact's own stats
    * report) — the r18 batch-family ceiling fix, now reachable
    * online. */
  def rebuildInto(spark: SparkSession, newArtifactDir: String,
      newOutDir: String, newMbits: Int = Dedup.BloomMBits,
      newKhash: Int = Dedup.BloomHashes,
      newShards: Int = 1): StreamingCountingBloom = {
    val live = liveKeys(spark).getOrElse(
      throw new IllegalStateException(
        s"$artifactDir holds no key slices; nothing to rebuild from"))
    def slices(root: String): Seq[String] =
      Option(new java.io.File(root).listFiles()).getOrElse(Array())
        .map(_.getName).filter(_.startsWith("gbatch=")).toSeq
    require(slices(s"$newArtifactDir/counts").isEmpty,
      s"$newArtifactDir already holds counting slices — rebuild " +
        "targets a fresh artifact dir (the pinned-geometry fresh-dir " +
        "convention)")
    require(!slices(newOutDir).exists(_ != "gbatch=-1"),
      s"$newOutDir already holds verdict slices — give the new " +
        "generation a fresh verdict dir too")
    // the new generation inherits EVERY operating knob, not just the
    // keying: a migration run precisely because the chain reached
    // scale must not silently revert compaction sizing (numFiles) or
    // cadence to test-shaped defaults
    val next = new StreamingCountingBloom(newArtifactDir, newOutDir,
      newMbits, newKhash, maxLiveSlices, compactionGraceMs,
      exactKeys = exactKeys, compactionNumFiles = compactionNumFiles,
      shards = newShards)
    // inherited key record first (idempotent overwrite), counting
    // slice LAST via staged atomic move — the commit point the
    // fresh-dir guard reads
    live.select(col("content_key"), lit(1L).as("delta"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$newArtifactDir/keys/gbatch=-1")
    // sweep stranded stages aged past the compaction grace, by the
    // NEWEST mtime anywhere inside (the StreamingBloom rule: Spark
    // populates the top dir only at job commit, so a slow live
    // stager's top-level mtime can exceed the grace mid-write)
    def newestMtime(f: java.io.File): Long =
      Option(f.listFiles()).map(_.foldLeft(f.lastModified())(
        (acc, c) => math.max(acc, newestMtime(c))))
        .getOrElse(f.lastModified())
    Option(new java.io.File(newArtifactDir).listFiles()).getOrElse(Array())
      .filter(f => f.getName.startsWith(".init-") &&
        System.currentTimeMillis() - newestMtime(f) >
          SlicedArtifact.CompactionGraceMs)
      .foreach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(d)
      }
    val stage = new java.io.File(newArtifactDir,
      s".init-${ProcessHandle.current().pid()}-" +
        s"${Thread.currentThread().getId}-${System.nanoTime()}")
    (if (newShards > 1)
      Dedup.shardedCountingBloomBits(live, newShards, newMbits, newKhash)
    else Dedup.countingBloomBits(live, newMbits, newKhash))
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val target = java.nio.file.Paths.get(newArtifactDir, "counts",
      "gbatch=-1")
    java.nio.file.Files.createDirectories(target.getParent)
    java.nio.file.Files.move(stage.toPath, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    next
  }
}

object StreamingCountingBloom {

  /** Default live-slice budget before [[FoldCompaction]] squashes the
    * state roots: per-batch state reads fold at most this many slices
    * plus one pointed base, regardless of stream length. 16 keeps the
    * squash amortized (one fold per 16 batches) while the fold itself
    * is one bounded aggregate over ≤ mbits + 16·delta rows. */
  val MaxLiveSlices: Int = 16

  /** Oracle for the streamed delete/re-accept chain (x106): three
    * deterministic micro-batches replayed in pure SQL — batch 0
    * inserts, batch 1 mixed (fresh inserts + EXACT-validated deletes
    * of batch-0 content, one of them deliberately invalid), batch 2
    * re-presenting the deleted content (which must screen never-seen
    * and be RE-ACCEPTED — the verdict the bit stream structurally
    * cannot produce), surviving content (must flag), and salted fresh
    * rows (the deterministic FP set). The replay leans on the
    * multiplicity-≤1 equivalence: the folded state after any batch is
    * the counting frame of the live key SET, so each state is one
    * GROUP BY over the live keys — no delta algebra needed in SQL.
    * Geometry derives from the batch-0 insert count
    * ([[graft.operators.Dedup.adaptiveBloomBitsSql]], the x102
    * convention). `b0Pred` selects batch 0's inserts from `documents`,
    * `b1InsPred` batch 1's, `delPred` the batch-0 docs deleted in
    * batch 1 (by original doc_id), `invalidPred` the never-inserted
    * docs whose delete must record `applied = false`; `incSql` is
    * batch 2's `(doc_id, text)`. Output: batch 2's insert verdicts. */
  def deleteChainScreenSql(b0Pred: String, b1InsPred: String,
      delPred: String, invalidPred: String, incSql: String,
      khash: Int = Dedup.BloomHashes, shards: Int = 1): String = {
    // shards > 1 carries the shard id through build, fold and lookup
    // (the x104 oracle's keying applied to the chain); shards = 1
    // generates the historical flat string byte-for-byte
    val sh = shards > 1
    def pos = s"('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || k), " +
      s"1, 8))::BIGINT % (SELECT m FROM mb)"
    def shardCol = Dedup.bloomShardSql("k", shards)
    def countsOf(keysRel: String) =
      if (sh)
        s"""SELECT shard, pos, count(*) AS cnt
           |  FROM (SELECT $shardCol AS shard, $pos AS pos
           |        FROM $keysRel, range(0, $khash) r(i))
           |  WHERE pos IS NOT NULL GROUP BY shard, pos""".stripMargin
      else
        s"""SELECT pos, count(*) AS cnt
           |  FROM (SELECT $pos AS pos FROM $keysRel, range(0, $khash) r(i))
           |  WHERE pos IS NOT NULL GROUP BY pos""".stripMargin
    def screenOf(docsRel: String, countsRel: String) =
      if (sh)
        s"""SELECT doc_id, k,
           |    bool_and(coalesce(c.cnt, 0) > 0) AS maybe_seen
           |  FROM (SELECT doc_id, k, $shardCol AS shard, $pos AS pos
           |        FROM $docsRel, range(0, $khash) r(i)) lk
           |  LEFT JOIN $countsRel c USING (shard, pos)
           |  GROUP BY doc_id, k""".stripMargin
      else
        s"""SELECT doc_id, k,
           |    bool_and(coalesce(c.cnt, 0) > 0) AS maybe_seen
           |  FROM (SELECT doc_id, k, $pos AS pos
           |        FROM $docsRel, range(0, $khash) r(i)) lk
           |  LEFT JOIN $countsRel c USING (pos)
           |  GROUP BY doc_id, k""".stripMargin
    val key = s"md5(${TextOps.normTextSql("text")})"
    s"""WITH mb AS (
       |  SELECT ${Dedup.adaptiveBloomBitsSql(
             s"SELECT count(*) FROM documents WHERE $b0Pred")} AS m
       |), b0 AS (
       |  SELECT doc_id, $key AS k FROM documents WHERE $b0Pred
       |), b0v AS (
       |  SELECT doc_id, k,
       |    (row_number() OVER (PARTITION BY k ORDER BY doc_id) = 1)
       |      AS applied
       |  FROM b0
       |), live0 AS (
       |  SELECT DISTINCT k FROM b0v WHERE applied
       |), c0 AS (
       |  ${countsOf("live0")}
       |), b1ins AS (
       |  SELECT doc_id, $key AS k FROM documents WHERE $b1InsPred
       |), b1s AS (
       |  ${screenOf("b1ins", "c0")}
       |), b1insv AS (
       |  SELECT doc_id, k, maybe_seen,
       |    ((NOT maybe_seen) AND
       |      row_number() OVER (PARTITION BY k ORDER BY doc_id) = 1)
       |      AS applied
       |  FROM b1s
       |), b1del AS (
       |  SELECT doc_id, $key AS k FROM documents
       |  WHERE ($delPred) OR ($invalidPred)
       |), b1delv AS (
       |  -- coalesce: a null key (or a key absent from a live0 that
       |  -- holds one) makes IN yield NULL, which must read as "not
       |  -- live", matching the engine's null-never-matches join
       |  SELECT doc_id, k,
       |    (coalesce(k IN (SELECT k FROM live0), FALSE) AND
       |      row_number() OVER (PARTITION BY k ORDER BY doc_id) = 1)
       |      AS applied
       |  FROM b1del
       |), live1 AS (
       |  SELECT k FROM live0
       |  WHERE k NOT IN (SELECT k FROM b1delv WHERE applied)
       |  UNION
       |  SELECT k FROM b1insv WHERE applied
       |), c1 AS (
       |  ${countsOf("live1")}
       |), ikraw AS (
       |$incSql
       |), ik AS (
       |  SELECT doc_id, $key AS k FROM ikraw
       |), i2s AS (
       |  ${screenOf("ik", "c1")}
       |)
       |SELECT doc_id, maybe_seen,
       |  ((NOT maybe_seen) AND
       |    row_number() OVER (PARTITION BY k ORDER BY doc_id) = 1)
       |    AS applied
       |FROM i2s""".stripMargin
  }
}
