package graft.streaming

import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming Bloom ingest screen — [[graft.operators.Dedup.ingestScreen]]'s
  * online twin, and [[StreamingDedup]]'s exact-key sibling: screen a
  * document stream for "was this content ever accepted before" against
  * a GROWING fixed-size bit-array artifact, never against the corpus.
  * Each micro-batch:
  *
  *  1. keys its docs (md5 of normalized text — [[graft.operators.Dedup
  *     .exactDedup]]'s content key);
  *  2. screens them against the bloom state accumulated by STRICTLY
  *     earlier batches ([[graft.operators.Dedup.bloomScreen]] — khash
  *     position rows per doc, broadcast word join, never a corpus
  *     scan);
  *  3. accepts each definitely-new key's lowest-doc_id row (within a
  *     batch the keys are in hand, so the inner screen is exact —
  *     greedy-sequential arrival order, the [[StreamingDedup]]
  *     policy);
  *  4. appends the accepted keys' [[graft.operators.Dedup.bloomBits]]
  *     as this batch's slice and writes verdicts
  *     `(doc_id, content_key, maybe_seen, accepted)`.
  *
  * The artifact IS the state (executor memory flat at any stream
  * length), and the merge is bitwise OR — associative, commutative,
  * IDEMPOTENT — so any subset of slices folds into one row per word in
  * any order: the read-side fold ([[stateBits]]) costs ≤ mbits/32 rows
  * regardless of batch count, a replayed batch's overwritten slice can
  * never corrupt the union, and offline compaction (when file count
  * matters) is the same one-line OR-fold. Contrast [[SlicedArtifact]]'s
  * latest-wins resolution: bloom needs none of it, BECAUSE it cannot
  * delete — clearing a key's bits would erase other keys' evidence, so
  * removing corpus content is a re-screen into a fresh artifact, and
  * the pinned geometry guard below enforces the fresh-dir convention
  * exactly as the codebook pins do for the vector stores. (A
  * delete-heavy corpus has the counting alternative —
  * [[graft.operators.Dedup.countingBloomBits]] in batch, and since
  * x106 [[StreamingCountingBloom]] online: its SUM-fold keeps slice
  * replay idempotent AND folds deletes out, at ~128× the metadata.
  * The bit form here stays the right default for append-only streams
  * — smaller state, and the OR-fold needs no delete discipline.)
  *
  * Semantics: a `maybe_seen` false positive rejects a genuinely new
  * doc at the sized-for rate — the deterministic trade an ingest
  * pre-screen makes (position hashes are md5-derived, so a replay or a
  * different cluster reaches the identical verdict; the x98 gate
  * hash-checks even the false-positive set). */
class StreamingBloom(artifactDir: String, outDir: String,
    mbits: Int = Dedup.BloomMBits, khash: Int = Dedup.BloomHashes,
    maxLiveSlices: Int = StreamingCountingBloom.MaxLiveSlices,
    compactionGraceMs: Long = SlicedArtifact.CompactionGraceMs,
    compactionNumFiles: Int = 1) {

  // changed geometry relocates every key's bit positions: reopening an
  // artifact under different (mbits, khash) would OR incompatible
  // generations with no error anywhere — the slice stores' constants
  // hazard, same guard
  SlicedArtifact.pinConstants(artifactDir,
    SlicedArtifact.section("bloomgeom", Seq(mbits, khash), Iterator.empty),
    "bloom geometry (mbits, khash)")

  private def slice(root: String, batchId: Long) = s"$root/gbatch=$batchId"
  private def bloomRoot = s"$artifactDir/bloom"

  /** Run to completion of available data; returns DISTINCT micro-batches
    * run (checkpoint replays re-invoke `foreachBatch` but must not
    * double-count — the [[StreamingDedup]] convention). */
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

  /** One micro-batch of the greedy-sequential policy (the unit the spec
    * replays in batch mode). Reads only strictly-earlier slices: a
    * checkpoint replay must re-screen against exactly the state it
    * originally saw — its own leftover slice would flip every replayed
    * accepted doc to maybe_seen. */
  private[graft] def screenBatch(batch: DataFrame, batchId: Long): Unit = {
    val keyed = batch.select(col("doc_id"),
      md5(TextOps.normText(col("text"))).as("content_key"))
    val screened = stateBits(batch.sparkSession, before = Some(batchId)) match {
      case Some(bloom) => Dedup.bloomScreen(keyed, bloom, mbits, khash)
      case None => keyed.select(col("doc_id"), col("content_key"),
        lit(false).as("maybe_seen"))
    }
    val w = Window.partitionBy("content_key").orderBy("doc_id")
    val verdicts = screened
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("content_key"), col("maybe_seen"),
        (!col("maybe_seen") && col("rn") === 1).as("accepted"))
      .persist()
    try {
      verdicts.write.mode(SaveMode.Overwrite).parquet(slice(outDir, batchId))
      Dedup.bloomBits(verdicts.where(col("accepted")).select("content_key"),
          mbits, khash)
        .write.mode(SaveMode.Overwrite).parquet(slice(bloomRoot, batchId))
    } finally verdicts.unpersist()
    // bound the next batches' state reads ([[StreamingCountingBloom]]'s
    // budget, trivially sound here — the OR-fold is idempotent on top
    // of associative, but the replay rule is kept identical: never
    // absorb the newest batch). Trigger meters UN-ABSORBED slices
    // only; `compactionNumFiles` sizes the folded base at scale.
    if (FoldCompaction.liveSliceCount(bloomRoot) > maxLiveSlices) {
      FoldCompaction.compact(batch.sparkSession, bloomRoot, batchId - 1,
        df => df.groupBy("word").agg(expr("bit_or(bits)").as("bits")),
        numFiles = compactionNumFiles, graceMs = compactionGraceMs)
      ()
    }
  }

  /** The bloom state as ONE `(word, bits)` row per set word: the
    * OR-fold of the pointed base plus every live slice (strictly
    * below `before` when given — the replay view). None before any
    * batch wrote. */
  def stateBits(spark: SparkSession, before: Option[Long] = None)
      : Option[DataFrame] =
    FoldCompaction.scoped(spark, bloomRoot, before)
      .map(_.groupBy("word").agg(expr("bit_or(bits)").as("bits")))

  /** All verdicts written so far — including, on a [[rebuildInto]]
    * target, the inherited `gbatch=-1` slice carrying every PRIOR
    * generation's accepted keys (maybe_seen = false, accepted = true):
    * the verdict chain is the filter's only key-level record, so it
    * must survive resizes end-to-end or a later rebuild would drop
    * history. */
  def verdicts(spark: SparkSession): Option[DataFrame] = {
    val d = new java.io.File(outDir)
    if (!d.isDirectory) None
    else Some(spark.read.parquet(outDir).drop("gbatch"))
  }

  /** The half-full rule's EXECUTOR: fold every ACCEPTED key recorded in the
    * verdicts into a fresh artifact at the new geometry and return its
    * handle. The filter itself holds no keys (bits are one-way), but
    * the verdict frames do — `(content_key, accepted)` per doc — so a
    * resize never needs the corpus, only the screen's own output. The
    * new artifact starts as one slice (batch 0 of its life); the old
    * one stays intact for any reader mid-serve, retired by the caller
    * when the cutover completes (the blue/green convention). Refuses a
    * target that already holds slices — re-screening INTO a live
    * artifact would double-count its keys' history.
    *
    * The inherited fold lands at slice `gbatch=-1`: strictly earlier
    * than every micro-batch id the new stream will ever produce, so
    * batch 0's screen sees the full history and no replay can ever
    * overwrite it. */
  def rebuildInto(spark: SparkSession, newArtifactDir: String,
      newOutDir: String, newMbits: Int = Dedup.BloomMBits,
      newKhash: Int = Dedup.BloomHashes): StreamingBloom = {
    val v = verdicts(spark).getOrElse(
      throw new IllegalStateException(
        s"$outDir holds no verdicts; nothing to rebuild from"))
    def slices(root: String): Seq[String] =
      Option(new java.io.File(root).listFiles()).getOrElse(Array())
        .map(_.getName).filter(_.startsWith("gbatch=")).toSeq
    // the bloom slice is the COMMIT point (moved into place last), so
    // ANY slice there — the inherited -1 included — means a completed
    // rebuild already lives here and must not be double-counted
    require(slices(s"$newArtifactDir/bloom").isEmpty,
      s"$newArtifactDir already holds bloom slices — rebuild targets a " +
        "fresh artifact dir (the pinned-geometry fresh-dir convention)")
    // the verdict guard EXCLUDES gbatch=-1: that slice is the one this
    // call writes (idempotent overwrite) BEFORE the commit point, so a
    // crash between the two steps must leave a retryable target, not
    // one refused on its own debris
    require(!slices(newOutDir).exists(_ != "gbatch=-1"),
      s"$newOutDir already holds verdict slices — the new generation's " +
        "batch ids restart at 0 and would overwrite them, corrupting the " +
        "very history a future rebuild folds from; give it a fresh " +
        "verdict dir too")
    // inherit the operating knobs (the StreamingCountingBloom
    // migration rule): a resize must not revert compaction sizing or
    // cadence to defaults
    val next = new StreamingBloom(newArtifactDir, newOutDir,
      newMbits, newKhash, maxLiveSlices, compactionGraceMs,
      compactionNumFiles)
    val accepted = v.where(col("accepted"))
    // 1) the accepted keys ride forward as an inherited VERDICT slice,
    //    not just as bits: bits are one-way, so without this a SECOND
    //    rebuild (gen-2 → gen-3) would fold only gen-2's verdicts and
    //    silently drop gen-1's keys — a false-negative factory.
    //    Overwrite = retry-safe.
    accepted.select(col("doc_id"), col("content_key"),
        lit(false).as("maybe_seen"), lit(true).as("accepted"))
      .write.mode(SaveMode.Overwrite).parquet(s"$newOutDir/gbatch=-1")
    // 2) the inherited BITS stage into a dot-dir and move into place
    //    LAST, atomically — the bloom slice is the commit point the
    //    fresh-dir guard reads, so a crash anywhere earlier leaves a
    //    retryable target (rerun overwrites the verdict slice and
    //    re-stages), never a half-inherited live artifact
    // stage name carries pid + thread id + nanos: nanoTime alone can
    // collide across concurrent rebuilds (the pinConstants tmp-name
    // hazard, and here even cross-process), mixing two stagers' output
    // before the move. Stranded stages from crashed runs are swept
    // once they age past the compaction grace (never young ones — a
    // LIVE concurrent stager owns those). Age by the NEWEST mtime found
    // anywhere inside the stage, not the top dir's: Spark writes part
    // files under _temporary/ and only populates the top dir at job
    // commit, so a slow concurrent stager's top-level mtime can exceed
    // the grace while its write is still live — sweeping on it would
    // delete a live stage mid-write, the exact cross-process mix the
    // pid+tid name exists to prevent.
    def newestMtime(f: java.io.File): Long =
      Option(f.listFiles()).map(_.foldLeft(f.lastModified())(
        (acc, c) => math.max(acc, newestMtime(c)))).getOrElse(f.lastModified())
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
    Dedup.bloomBits(accepted.select("content_key"), newMbits, newKhash)
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val target = java.nio.file.Paths.get(newArtifactDir, "bloom",
      "gbatch=-1")
    java.nio.file.Files.createDirectories(target.getParent)
    java.nio.file.Files.move(stage.toPath, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    next
  }

  /** The maintenance check on the bloom axis — [[graft.operators.Dedup
    * .bloomStats]] over the OR-folded state, plus the HALF-FULL rule: a
    * stream that outgrows its construction-time geometry degrades
    * SILENTLY (FP = fill^khash rejects ever more genuinely-new docs,
    * and no verdict ever errors), so past fill 0.5 the report
    * recommends re-screening into a fresh, larger (or sharded)
    * artifact — the only fix a structure that cannot un-set bits
    * admits.
    * None before any batch wrote. */
  def stats(spark: SparkSession)
      : Option[(Dedup.BloomStats, Boolean)] =
    stateBits(spark).map { bits =>
      val st = Dedup.bloomStats(bits, mbits, khash)
      (st, st.fillRatio > 0.5)
    }
}

object StreamingBloom {

  /** Oracle for the GENERATIONAL rebuild chain (x102): gen-1 screens
    * two micro-batches at a geometry sized for batch 0 alone (so
    * batch 1 outgrows it — the half-full rule's scenario), then
    * [[StreamingBloom.rebuildInto]] folds every accepted key into a 4×
    * larger gen-2 artifact, and the increment screens against gen-2's
    * inherited history as its own batch 0. The whole chain replays in
    * pure SQL because every step is deterministic (md5 positions, no
    * RNG): the within-batch greedy accepts, gen-1's false positives —
    * which REJECT genuinely-new keys and so shape the very history
    * gen-2 inherits — and the increment's final verdicts all
    * hash-check exactly. mbits derives from the batch-0 count in SQL
    * ([[graft.operators.Dedup.adaptiveBloomBitsSql]]), so one oracle
    * string is exact at every fixture scale. `b0Pred`/`b1Pred` select
    * gen-1's two batches from `documents`; `incSql` selects the
    * increment's `(doc_id, text)`. */
  def generationalScreenSql(b0Pred: String, b1Pred: String,
      incSql: String, khash: Int = Dedup.BloomHashes): String = {
    def pos(mb: String) =
      s"('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || k), 1, 8))" +
        s"::BIGINT % (SELECT m FROM $mb)"
    def bloomOf(keysRel: String, mb: String) =
      s"""SELECT pos // 32 AS word,
         |    bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
         |  FROM (SELECT ${pos(mb)} AS pos
         |        FROM $keysRel, range(0, $khash) r(i))
         |  GROUP BY word""".stripMargin
    def screenOf(docsRel: String, bloomRel: String, mb: String) =
      s"""SELECT doc_id, k,
         |    bool_and((coalesce(b.bits, 0) & mask) <> 0) AS maybe_seen
         |  FROM (
         |    SELECT doc_id, k, pos // 32 AS word,
         |      1::BIGINT << CAST(pos % 32 AS INT) AS mask
         |    FROM (SELECT doc_id, k, ${pos(mb)} AS pos
         |          FROM $docsRel, range(0, $khash) r(i))
         |  ) lk LEFT JOIN $bloomRel b USING (word)
         |  GROUP BY doc_id, k""".stripMargin
    val key = s"md5(${TextOps.normTextSql("text")})"
    s"""WITH mb1 AS (
       |  SELECT ${Dedup.adaptiveBloomBitsSql(
             s"SELECT count(*) FROM documents WHERE $b0Pred")} AS m
       |), mb2 AS (
       |  SELECT 4 * m AS m FROM mb1
       |), b0 AS (
       |  SELECT doc_id, $key AS k FROM documents WHERE $b0Pred
       |), b0v AS (
       |  SELECT doc_id, k,
       |    (row_number() OVER (PARTITION BY k ORDER BY doc_id) = 1) AS accepted
       |  FROM b0
       |), bl1 AS (
       |  ${bloomOf("(SELECT k FROM b0v WHERE accepted)", "mb1")}
       |), b1 AS (
       |  SELECT doc_id, $key AS k FROM documents WHERE $b1Pred
       |), b1s AS (
       |  ${screenOf("b1", "bl1", "mb1")}
       |), b1v AS (
       |  SELECT doc_id, k, maybe_seen,
       |    ((NOT maybe_seen) AND
       |      row_number() OVER (PARTITION BY k ORDER BY doc_id) = 1) AS accepted
       |  FROM b1s
       |), hist AS (
       |  SELECT k FROM b0v WHERE accepted
       |  UNION ALL
       |  SELECT k FROM b1v WHERE accepted
       |), bl2 AS (
       |  ${bloomOf("hist", "mb2")}
       |), ikraw AS (
       |$incSql
       |), ik AS (
       |  SELECT doc_id, $key AS k FROM ikraw
       |), i2s AS (
       |  ${screenOf("ik", "bl2", "mb2")}
       |)
       |SELECT doc_id, maybe_seen,
       |  ((NOT maybe_seen) AND
       |    row_number() OVER (PARTITION BY k ORDER BY doc_id) = 1) AS accepted
       |FROM i2s""".stripMargin
  }
}
