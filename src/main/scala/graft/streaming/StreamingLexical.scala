package graft.streaming

import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming lexical (BM25) indexing: maintain the per-document index
  * frames — `(doc_id, token, tf)` and `(doc_id, dl)` — as a GROWING
  * artifact while the crawl arrives, so ranked lexical retrieval serves
  * from the artifact at any point without re-tokenizing the corpus.
  * The lexical sibling of [[StreamingSemanticDedup]]'s embedding
  * artifact and [[StreamingDedup]]'s signature artifact.
  *
  * Why this decomposition is exactly right for streaming: tf and dl are
  * PER-DOC local ([[TextOps.bm25Stats]]), so a batch's slice computed in
  * isolation is bit-identical to that slice within a full-corpus build —
  * appending slices IS maintaining the index. The corpus-level parts of
  * the score (df, N, avgdl) are NOT append-local (every new doc moves
  * them), so they are deliberately NOT stored: [[topK]] derives them
  * from the artifact at serve time through the same
  * [[TextOps.bm25TopKFrom]] path batch retrieval uses — one hash agg
  * over the artifact, always consistent with the current corpus, and
  * batch/stream equivalence is structural rather than reconciled.
  *
  * Mechanics: `foreachBatch` + per-batch `gbatch=<id>` overwrite slices
  * (the [[StreamingDedup]] convention) — a checkpoint-replayed batch
  * rewrites its own slice instead of double-counting, executor memory is
  * flat at any stream length, and the artifact is an ordinary parquet
  * frame any batch pipeline can read.
  *
  * Upsert/tombstone contract ([[ArtifactSlices]]): a batch row is an
  * upsert of its `doc_id` — a re-crawled doc's new slice supersedes the
  * old one at serve — and a row with `is_deleted = true` is a tombstone
  * that removes the doc from every subsequent serve. [[artifact]]
  * resolves latest-slice-wins over the per-batch ops records, so df, N,
  * avgdl and the scoring join all see exactly the LIVE corpus — the
  * reference's incremental sync semantics (upsert-or-delete actions)
  * carried into the streaming index. */
class StreamingLexical(artifactDir: String) {

  private val slices =
    new SlicedArtifact(artifactDir, Seq("tf", "dl", "ctf", "cdl"), "doc_id")

  // Fail fast on the frame-expansion reopen hazard (the
  // [[StreamingVectorIndex]] cents convention): an artifact written by
  // the pre-chunk-index version has committed batches (ops slices)
  // with no ctf/cdl slices, so reopening it here would either crash
  // `resolved` or — worse, after one new batch — serve a chunk index
  // (and its global df/N/avgdl) silently missing every pre-upgrade
  // document, which compaction would then bake in permanently. Chunk
  // frames are per-doc local, so new batches can't repair old ones;
  // the artifact must be rebuilt (or compacted by the old version and
  // migrated) before this version serves it.
  locally {
    val missing = slices.missingFor("ops", "ctf")
    require(missing.isEmpty,
      s"artifact at $artifactDir predates the chunk-index frames: " +
        s"committed batches with no matching ctf slice (batch ids " +
        s"${missing.mkString(", ")}); re-ingest the corpus with this " +
        "version instead of reopening the old artifact")
  }

  /** Index all available micro-batches; returns DISTINCT batches run
    * (replays re-invoke `foreachBatch` but must not count twice). */
  def indexAvailable(spark: SparkSession, docsStream: DataFrame,
      checkpoint: String): Long =
    SliceIngest.runAvailable(docsStream, checkpoint)(indexBatch)

  /** One micro-batch: tokenize the batch's LIVE docs, aggregate their
    * per-doc frames, publish them as this batch's artifact slices, and
    * record the batch's membership (upserts + tombstones) as its ops
    * slice. A tombstoned doc contributes no tf/dl rows — its effect is
    * carried entirely by the ops record. */
  private[graft] def indexBatch(batch: DataFrame, batchId: Long): Unit = {
    val docs = batch.where(!ArtifactSlices.deletedCol(batch))
      .select("doc_id", "text")
    val (tf, dl) = TextOps.bm25Stats(docs)
    slices.writeSlice(tf, "tf", batchId)
    slices.writeSlice(dl, "dl", batchId)
    // chunk-level frames ride the same slice: chunk stats are per-doc
    // local exactly like tf/dl ([[TextOps.chunkBm25Stats]]), so the
    // same append/upsert/tombstone algebra maintains the RAG index
    val (ctf, cdl) = TextOps.chunkBm25Stats(docs)
    slices.writeSlice(ctf, "ctf", batchId)
    slices.writeSlice(cdl, "cdl", batchId)
    slices.writeSlice(ArtifactSlices.opsOf(batch, "doc_id"), "ops", batchId)
  }

  /** The accumulated index frames resolved to the LIVE corpus (latest
    * slice per doc wins, tombstoned docs screened), or None before any
    * batch wrote. */
  def artifact(spark: SparkSession): Option[(DataFrame, DataFrame)] =
    slices.resolved(spark).map(m => (m("tf"), m("dl")))

  /** The accumulated CHUNK-level index frames `(ctf, cdl)` resolved to
    * the live corpus — the chunk twin of [[artifact]], the frames
    * [[graft.operators.HybridOps.chunkHybridTopKFrom]] and
    * [[graft.operators.TextOps.bm25ChunkTopKFrom]] consume. */
  def chunkArtifact(spark: SparkSession): Option[(DataFrame, DataFrame)] =
    slices.resolved(spark).map(m => (m("ctf"), m("cdl")))

  /** Fold the accumulated slices into one compacted generation
    * ([[SlicedArtifact.compact]]): serve cost stops growing with batch
    * count, served results are unchanged, and the stream keeps indexing
    * on top. Returns the compacted high-water batch id. */
  def compact(spark: SparkSession, numFiles: Int = 1,
      graceMs: Long = SlicedArtifact.CompactionGraceMs): Long =
    slices.compact(spark, numFiles, graceMs)

  /** Serve BM25 top-k from the current artifact — the same scoring path
    * as batch [[TextOps.bm25TopK]], so the result over N indexed batches
    * equals the batch build over their concatenation. */
  def topK(spark: SparkSession, queries: Seq[(Long, Seq[String])],
      k: Int): Option[DataFrame] =
    artifact(spark).map { case (tf, dl) =>
      TextOps.bm25TopKFrom(tf, dl, queries, k)
    }

  /** Chunk-ranked, doc-deduped serve from the same artifact, through
    * the one batch scoring path
    * ([[TextOps.bm25ChunkTopKFrom]]), so N indexed batches serve
    * exactly like the batch chunk build over their concatenation. */
  def chunkTopK(spark: SparkSession, queries: Seq[(Long, Seq[String])],
      k: Int): Option[DataFrame] =
    slices.resolved(spark).map(m =>
      TextOps.bm25ChunkTopKFrom(m("ctf"), m("cdl"), queries, k))
}
