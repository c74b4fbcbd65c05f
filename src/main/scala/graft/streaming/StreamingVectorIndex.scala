package graft.streaming

import graft.operators.VectorOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming vector indexing — the dense sibling of
  * [[StreamingLexical]], closing the "hybrid retrieval while the crawl
  * arrives" loop: each micro-batch appends its embeddings AND their PQ
  * codes as artifact slices, so dense search serves at any point from
  * the artifact (ADC over codes — no re-encoding, no float-column
  * candidate scan) and hybrid search composes it with the lexical
  * artifact through the same batch scoring paths.
  *
  * The codebooks are deliberately a FIXED constructor argument, not
  * per-batch state: in production PQ books are trained once on an
  * initial corpus sample and kept stable so codes stay comparable
  * across the whole stream (training new books mid-stream would silently change
  * what every previous code means). Embeddings and codes are both
  * per-doc-local, so slice isolation ≡ full-corpus values — the same
  * append-only insight as the lexical tf/dl frames.
  *
  * Mechanics: `foreachBatch` + per-batch `gbatch=<id>` overwrite slices
  * (replay-safe, flat executor memory), the family convention.
  *
  * Upsert/tombstone contract ([[ArtifactSlices]]): a batch row upserts
  * its `vec_id` (a re-embedded doc's new slice supersedes the old one)
  * and `is_deleted = true` tombstones it out of every subsequent serve —
  * [[artifact]] resolves latest-slice-wins over the per-batch ops
  * records, so the ADC candidate scan sees exactly the LIVE corpus.
  *
  * With `cents` supplied (a coarse IVF codebook, fixed like the books),
  * each batch ALSO appends the residual-encoded `(vec_id, codes, cell)`
  * index slice ([[VectorOps.ivfPqIndex]], map-only under the fixed
  * codebooks), and [[ivfTopK]] serves the probe-pruned IVFADC path from
  * the growing artifact — streamed ingestion, batch-identical serve.
  *
  * With `chunked = true` (requires `cents`; batches must carry a
  * `text` column beside the embedding), each batch ALSO appends the
  * composite-key CHUNK-vector index slice ([[VectorOps
  * .chunkIvfPqIndex]] over the batch's own chunk frame — chunk rows
  * are per-doc local, so slice isolation ≡ full-corpus encoding), and
  * [[chunkIvfTopK]] serves the probe-pruned MaxSim path a batch
  * snapshot's `cindex` serves (x85's chain). The slice stores the
  * PARENT doc id in the resolution key column and the composite id
  * beside it — so latest-slice-wins resolution drops ALL of a
  * superseded doc's chunk rows, including chunks the new version no
  * longer has (a shortened doc's stale tail chunks cannot survive a
  * composite-key resolution, which would only supersede ids that
  * reappear). */
class StreamingVectorIndex(artifactDir: String,
    books: Seq[Seq[Seq[Double]]],
    cents: Option[Seq[Seq[Double]]] = None,
    chunked: Boolean = false) {

  require(!chunked || cents.isDefined,
    "chunked streaming indexing needs the coarse codebook: the chunk " +
      "index IS the cell-partitioned IVFADC frame (pass cents)")

  private val slices = new SlicedArtifact(artifactDir,
    Seq("emb", "codes") ++
      (if (cents.isDefined) Seq("ivf") else Seq.empty) ++
      (if (chunked) Seq("civf") else Seq.empty),
    "vec_id")


  // Fail fast on the reopen hazard: an artifact previously written
  // WITHOUT cents has committed batches (ops slices) with no ivf
  // slices, so reopening it with cents would resolve an ivf frame
  // silently missing every pre-existing vector — candidates would
  // vanish from the IVFADC serve with no error. (Writing ivf slices
  // for NEW batches can't repair the old ones: codes are per-doc-local,
  // but serve correctness needs the whole live corpus in the cell
  // index.) The reference frame is `ops` — written LAST per batch, the
  // de-facto commit marker — NOT `emb`: a crash between a batch's emb
  // and ivf writes leaves an UNCOMMITTED batch that the checkpointed
  // replay rewrites wholesale (overwrite-mode slices), and flagging it
  // here would permanently brick a legitimately cents-carrying
  // artifact before that replay could run.
  cents.foreach { _ =>
    val missing = slices.missingFor("ops", "ivf")
    require(missing.isEmpty,
      s"artifact at $artifactDir was written without a coarse codebook: " +
        s"committed batches with no matching ivf slice (batch ids " +
        s"${missing.mkString(", ")}; -1 = the compacted base). Reopen " +
        "without cents for ADC-only serving, or re-index the corpus " +
        "under a cents-carrying handle.")
  }
  // the same reopen hazard, chunk flavor: committed batches without
  // civf slices would silently vanish from the chunk-dense serve
  if (chunked) {
    val missing = slices.missingFor("ops", "civf")
    require(missing.isEmpty,
      s"artifact at $artifactDir was written without chunk indexing: " +
        s"committed batches with no matching civf slice (batch ids " +
        s"${missing.mkString(", ")}; -1 = the compacted base). Reopen " +
        "with chunked = false, or re-index the corpus under a chunked " +
        "handle.")
  }
  // Pinned-constants guard ([[SlicedArtifact.pinConstants]]): codes are meaningless under the wrong books and
  // cells under the wrong coarse codebook, so a reopen under different
  // constants refuses instead of silently mixing generations across
  // slices. Write-if-absent — a pre-guard artifact pins to its first
  // reopening handle. AFTER the frame-presence checks: a frame-shape
  // mismatch (cents-less artifact reopened chunked/cents-carrying)
  // gets its specific expansion-hazard message, not the generic
  // digest one. The coarse codebook pins in its OWN file: a
  // cents-carrying artifact legally reopens cents-less for ADC-only
  // serving (it never reads ivf/civf then), so the cents digest is
  // checked only by handles that will.
  SlicedArtifact.pinConstants(artifactDir,
    SlicedArtifact.section("books",
      Seq(books.size, books.headOption.map(_.size).getOrElse(0),
        books.headOption.flatMap(_.headOption).map(_.size).getOrElse(0)),
      SlicedArtifact.doubleParts(books.flatten.flatten)), "PQ books")
  cents.foreach(cs => SlicedArtifact.pinConstants(artifactDir,
    SlicedArtifact.section("cents",
      Seq(cs.size, cs.headOption.map(_.size).getOrElse(0)),
      SlicedArtifact.doubleParts(cs.flatten)), "coarse codebook",
    "CONSTANTS_IVF"))

  /** Index all available micro-batches; returns DISTINCT batches run. */
  def indexAvailable(spark: SparkSession, embStream: DataFrame,
      checkpoint: String): Long =
    SliceIngest.runAvailable(embStream, checkpoint)(indexBatch)

  /** One micro-batch: append the raw embeddings (kept for exact rerank
    * and downstream reuse) and the map-only PQ encode under the fixed
    * books. */
  private[graft] def indexBatch(batch: DataFrame, batchId: Long): Unit = {
    val live = batch.where(!ArtifactSlices.deletedCol(batch))
    val vecs = live.select("vec_id", "embedding")
    slices.writeSlice(vecs, "emb", batchId)
    slices.writeSlice(
      VectorOps.pqCodesWide(vecs, books).select("vec_id", "codes"),
      "codes", batchId)
    cents.foreach(cs => slices.writeSlice(
      VectorOps.ivfPqIndex(vecs, cs, books, residual = true), "ivf", batchId))
    if (chunked) {
      // the batch's own chunk frame: chunk rows are per-doc local, so
      // this slice equals the full-corpus encode restricted to the
      // batch's docs. The RESOLUTION key column carries the parent doc
      // id; the composite id rides beside it (see class doc).
      val docs = live.select(col("vec_id").as("doc_id"), col("text"))
      val cs = cents.get
      slices.writeSlice(
        VectorOps.chunkIvfPqIndex(
          VectorOps.chunkEmbeddingsFrom(
            graft.operators.TextOps.chunkDocs(docs), vecs), cs, books)
          .select(col("vec_id").as("cvec_id"), col("codes"), col("cell"))
          .withColumn("vec_id",
            expr(s"cvec_id DIV ${VectorOps.ChunkStride}")),
        "civf", batchId)
    }
    slices.writeSlice(ArtifactSlices.opsOf(batch, "vec_id"), "ops", batchId)
  }

  /** The accumulated `(vec_id, embedding)` / `(vec_id, codes)` frames
    * resolved to the LIVE corpus (latest slice per vec wins, tombstoned
    * vecs screened), or None before any batch wrote. */
  def artifact(spark: SparkSession): Option[(DataFrame, DataFrame)] =
    slices.resolved(spark).map(m => (m("emb"), m("codes")))

  /** Fold the accumulated slices into one compacted generation
    * ([[SlicedArtifact.compact]]); serve results unchanged, file count
    * flat from then on. Returns the compacted high-water batch id. */
  def compact(spark: SparkSession, numFiles: Int = 1,
      graceMs: Long = SlicedArtifact.CompactionGraceMs): Long =
    slices.compact(spark, numFiles, graceMs)

  /** ADC top-k over the code artifact for query ids resolved in the
    * embedding artifact — the same scoring path as batch
    * [[VectorOps.pqTopKFromCodes]], so stream ≡ batch is structural. */
  def topK(spark: SparkSession, queryIds: Seq[Long],
      k: Int): Option[DataFrame] =
    artifact(spark).map { case (emb, codes) =>
      val q = emb.select(col("vec_id"),
          org.apache.spark.sql.functions.transform(col("embedding"),
            _.cast("double")).as("v"))
        .where(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      VectorOps.pqTopKFromCodes(codes, q, k, books)
    }

  /** Probe-pruned IVFADC top-k from the streamed `(vec_id, codes,
    * cell)` artifact (requires `cents`) — the SAME
    * [[VectorOps.ivfPqTopKFromIndex]] path a batch snapshot serves, so
    * stream ≡ batch is structural: probe ranking on the driver, the
    * probed-cell filter pruning the candidate frame before the literal
    * probe attach, residual reconstruction on survivors only. */
  def ivfTopK(spark: SparkSession, queryIds: Seq[Long], k: Int,
      nprobe: Int): Option[DataFrame] =
    cents.flatMap { cs =>
      slices.resolved(spark).map { m =>
        val emb = m("emb")
        val probe = VectorOps.probePlanOf(emb, queryIds, cs, nprobe)
        VectorOps.ivfPqTopKFromIndex(
          m("ivf").where(col("cell").isin(probe.cells: _*)),
          emb, queryIds, k, nprobe, cs, books, residual = true,
          probe = Some(probe))
      }
    }

  /** Probe-pruned chunk-dense MaxSim top-k from the streamed
    * composite-key chunk-code artifact (requires `chunked`) — the SAME
    * [[VectorOps.chunkIvfPqTopKFromIndex]] path a batch snapshot's
    * `cindex` serves (x85), so streamed chunk-dense ≡ batch is
    * structural: resolution re-exposes the composite id the serve
    * decomposes, the probed-cell filter prunes the candidate frame
    * before the literal probe attach. */
  def chunkIvfTopK(spark: SparkSession, queryIds: Seq[Long], k: Int,
      nprobe: Int): Option[DataFrame] =
    // ONE resolution for both frames: separate resolved() calls would
    // pay the slice listing twice AND could straddle a compaction
    // pointer swap, serving the chunk codes and the query vectors from
    // different artifact generations within one query
    if (!chunked) None
    else slices.resolved(spark).map { m =>
      val cs = cents.get
      val emb = m("emb")
      val cidx = civfAsIndex(m("civf"))
      val probe = VectorOps.probePlanOf(emb, queryIds, cs, nprobe)
      VectorOps.chunkIvfPqTopKFromIndex(
        cidx.where(col("cell").isin(probe.cells: _*)),
        emb, queryIds, k, nprobe, cs, books, probe = Some(probe))
    }

  /** Re-expose the composite id a resolved `civf` slice stores beside
    * its parent-doc resolution key (see the class doc). */
  private def civfAsIndex(civf: DataFrame): DataFrame =
    civf.select(col("cvec_id").as("vec_id"), col("codes"), col("cell"))

  /** The resolved composite-key chunk-code frame `(vec_id, codes,
    * cell)` (requires `chunked`) — the streamed twin of a snapshot's
    * `cindex`, consumable by [[graft.operators.HybridOps
    * .chunkHybridTopKFrom]] beside [[StreamingLexical.chunkArtifact]]
    * for the full crawl-time chunk-hybrid serve. */
  def chunkArtifact(spark: SparkSession): Option[DataFrame] =
    if (!chunked) None
    else slices.resolved(spark).map(m => civfAsIndex(m("civf")))
}
