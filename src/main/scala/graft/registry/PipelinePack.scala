package graft.registry

import graft.operators.{Dedup, MultimodalOps, TextOps, VectorOps}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM training-data pipeline operators (builder brief: dedup, similarity
  * search, text analysis, multimodal) over the `documents` / `embeddings`
  * fixtures. Every SQL-expressible operator carries a DuckDB oracle
  * GENERATED from the same constants as the Spark plan (see the `...Sql`
  * builders in the operator objects) — the two sides cannot drift. */
object PipelinePack extends QueryPack {

  /** Confirmed-similarity floor for reporting near-dup pairs. */
  val PairJaccard = 0.5
  /** Collapse threshold for near-dup dedup. */
  val DedupJaccard = 0.8
  /** Fixed ANN/top-k probe queries. */
  val QueryVecs = Seq(0L, 1L, 2L)

  /** The recall-curve query sample (x91): 50 deterministic query ids —
    * wide enough that the per-grid-point recall digits are
    * statistically meaningful where [[QueryVecs]]' 3-query x44 rows
    * are mechanics checks ("treat bands, not digits"). Every fixture
    * scale has vec_ids 0..499, so the sample is stable across sf. */
  val CurveQueryIds: Seq[Long] = 0L until 50L

  val MinCosine = 0.2

  /** Confirmed edit-similarity floor for x71 (1 − lev/maxlen ≥ this) —
    * low enough to confirm a non-empty subset of the LSH candidates at
    * every fixture scale, strict enough that some candidates fail. */
  val EditSim = 0.3

  /** Misra–Gries sketch size for x51 — the SINGLE source for both the
    * Spark-side guarantee booleans and the oracle's heavy-set floor
    * (`c·(K+1) > n`); interpolating it into the SQL keeps the two sides
    * from silently desynchronizing if the size changes. */
  val HeavyHittersK = 32

  /** Token budget for x52's greedy corpus selection — sized to select a
    * strict, non-empty subset at every fixture scale factor. */
  val SelectBudget = 12000L

  /** Sequence-pack token budget shared by x24 (whitespace tokens) and
    * x76 (BPE tokens) — ONE constant so the comparable-pack-shape claim
    * between the two packings is enforced by construction, interpolated
    * into both engines on both queries. */
  val PackBudget = 512L

  /** x76's token-TRUE packing budget — definitionally x24's, see
    * [[PackBudget]]. */
  val BpePackBudget: Long = PackBudget

  /** Fixed lexical query batch for BM25 retrieval (x56) — terms drawn
    * from the fixture vocabulary so every query matches documents at
    * every scale factor. */
  val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join"),
    1L -> Seq("vector", "table"),
    2L -> Seq("window", "batch", "scan"))

  /** Target language proportions for the mixture-sampling query. */
  val MixWeights: Seq[(String, Double)] =
    Seq("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1, "zh" -> 0.1)

  /** The trained IVF codebook for a fixture snapshot, cached as a file
    * artifact keyed by (dir, fixture mtime, k-means constants) — the
    * production shape: a codebook is index METADATA trained once per
    * corpus snapshot ([[VectorOps.trainedCentroids]]' scaladoc), not
    * re-derived per search. Doubles round-trip through raw IEEE-754
    * bits, so the artifact-fed codebook is bit-identical to a fresh
    * training run (and hence to the oracle's unrolled k-means). Atomic
    * rename publish, same scheme as x18's signature artifacts. */
  /** Collision-resistant cache key: SHA-256 over the literal key
    * components (NUL-joined), not a 32-bit tuple hashCode — a hashCode
    * collision across snapshots would silently feed a stale artifact
    * into correctness-checked queries. File size joins mtime in the key
    * so a fixture rewritten within the filesystem's mtime granularity
    * still misses the cache. */
  private def artifactKey(parts: Any*): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("\u0000").getBytes("UTF-8"))
      .take(12).map("%02x".format(_)).mkString

  private def codebookFor(s: SparkSession, dir: String,
      cells: Int = VectorOps.NumCentroids): Seq[Seq[Double]] = {
    val fx = new java.io.File(s"$dir/embeddings.parquet")
    val key = artifactKey(dir, fx.lastModified(), fx.length(),
      cells, VectorOps.KMeansIters, VectorOps.KMeansGrid,
      VectorOps.Dim)
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_codebook_$key.txt")
    if (f.exists()) {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.split(",").toSeq
        .map(b => java.lang.Double.longBitsToDouble(b.toLong))).toList
      finally src.close()
    } else {
      val cents = VectorOps.trainedCentroids(Tables.embeddings(s, dir), cells)
      val tmp = new java.io.File(f.getParentFile, s"${f.getName}.tmp.${System.nanoTime()}")
      java.nio.file.Files.writeString(tmp.toPath,
        cents.map(_.map(java.lang.Double.doubleToLongBits).mkString(",")).mkString("\n"))
      if (!tmp.renameTo(f)) tmp.delete() // lost a concurrent race: theirs won
      cents
    }
  }

  /** [[codebookFor]]'s PQ sibling: the per-subspace codebooks as a
    * per-snapshot file artifact (doubles as raw IEEE-754 bits —
    * bit-identical to a fresh training run), trained once per
    * (fixture, PQ constants) key. */
  private def pqBooksFor(s: SparkSession, dir: String): Seq[Seq[Seq[Double]]] = {
    val fx = new java.io.File(s"$dir/embeddings.parquet")
    val key = artifactKey(dir, fx.lastModified(), fx.length(), "pq",
      VectorOps.PqSubspaces, VectorOps.PqSubCentroids, VectorOps.PqIters,
      VectorOps.KMeansGrid, VectorOps.Dim)
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_pqbooks_$key.txt")
    if (f.exists()) {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.split(",").toSeq
        .map(b => java.lang.Double.longBitsToDouble(b.toLong))).toList
        .grouped(VectorOps.PqSubCentroids).toList
      finally src.close()
    } else {
      val books = VectorOps.pqTrainedCodebooks(Tables.embeddings(s, dir))
      val tmp = new java.io.File(f.getParentFile,
        s"${f.getName}.tmp.${System.nanoTime()}")
      java.nio.file.Files.writeString(tmp.toPath,
        books.flatten.map(_.map(java.lang.Double.doubleToLongBits).mkString(","))
          .mkString("\n"))
      if (!tmp.renameTo(f)) tmp.delete() // lost a concurrent race: theirs won
      books
    }
  }

  /** [[pqBooksFor]]'s residual sibling: per-subspace codebooks trained
    * on v − centroid(cell) under the snapshot's coarse codebook
    * (IVFADC; [[VectorOps.pqResidualCodebooks]]). Keyed by BOTH constant
    * sets — the residual frame depends on the coarse books too. */
  private def pqResBooksFor(s: SparkSession, dir: String,
      cells: Int = VectorOps.NumCentroids,
      m: Int = VectorOps.PqSubspaces,
      ksub: Int = VectorOps.PqSubCentroids): Seq[Seq[Seq[Double]]] = {
    val fx = new java.io.File(s"$dir/embeddings.parquet")
    val key = artifactKey(dir, fx.lastModified(), fx.length(), "pqres",
      cells, VectorOps.KMeansIters,
      m, ksub, VectorOps.PqIters,
      VectorOps.KMeansGrid, VectorOps.Dim)
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_pqresbooks_$key.txt")
    if (f.exists()) {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.split(",").toSeq
        .map(b => java.lang.Double.longBitsToDouble(b.toLong))).toList
        .grouped(ksub).toList
      finally src.close()
    } else {
      val books = VectorOps.pqResidualCodebooks(
        Tables.embeddings(s, dir), codebookFor(s, dir, cells), m, ksub)
      val tmp = new java.io.File(f.getParentFile,
        s"${f.getName}.tmp.${System.nanoTime()}")
      java.nio.file.Files.writeString(tmp.toPath,
        books.flatten.map(_.map(java.lang.Double.doubleToLongBits).mkString(","))
          .mkString("\n"))
      if (!tmp.renameTo(f)) tmp.delete() // lost a concurrent race: theirs won
      books
    }
  }

  /** The BM25 index frames (tf, dl) as per-snapshot parquet artifacts —
    * the lexical sibling of the codebook convention: tokenizing the
    * corpus is index-build work, run once per snapshot, and the hybrid
    * serves (x57/x61) read the stored index instead of re-tokenizing
    * per query batch. Counts are integers, so the parquet round trip is
    * exact and the serves stay hash-identical to their oracles. */
  private def bm25IndexFor(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    lazy val stats = TextOps.bm25Stats(Tables.documents(s, dir), None)
    val tfPath = snapshotArtifact(dir, "documents.parquet",
      "bm25_tf.parquet", "bm25tf")(p =>
      stats._1.write.mode("overwrite").parquet(p))
    val dlPath = snapshotArtifact(dir, "documents.parquet",
      "bm25_dl.parquet", "bm25dl")(p =>
      stats._2.write.mode("overwrite").parquet(p))
    (s.read.parquet(tfPath), s.read.parquet(dlPath))
  }

  /** The learned BPE merge table for a fixture snapshot, artifact-fed
    * (the codebook convention: a tokenizer is corpus METADATA trained
    * once per snapshot, not re-learned per encode) and collected in
    * rank order — k rows of bounded driver metadata that [[TextOps
    * .bpeEncode]] folds into the plan as literals. */
  private def bpeRulesFor(s: SparkSession, dir: String): Seq[(String, String)] = {
    val p = snapshotArtifact(dir, "documents.parquet", "bpe_rules.parquet",
      "bperules", TextOps.BpeMerges)(path =>
      TextOps.bpeMerges(Tables.documents(s, dir))
        .write.mode("overwrite").parquet(path))
    s.read.parquet(p).orderBy("rank").select("lhs", "rhs")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** Schema of the persisted IVF+PQ index artifact — THE one
    * definition, shared with the serve handle so the registry read and
    * the snapshot read can never drift apart (see
    * [[graft.serve.Retrieval.IndexSchema]] for why it is explicit). */
  private val IvfPqIndexSchema = graft.serve.Retrieval.IndexSchema

  /** The cell-partitioned IVF+PQ index artifact for a snapshot, built
    * once per (fixture, codebook constants, flavor) key and served with
    * a partition-pruned read: the `cell IN (probed)` filter prunes the
    * file listing to the probed directories, so a query batch's scan
    * cost is ∝ nprobe/cells — the IVF promise made physical on disk. */
  private def ivfPqIndexFor(s: SparkSession, dir: String,
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      residual: Boolean,
      cells: Int = VectorOps.NumCentroids,
      m: Int = VectorOps.PqSubspaces,
      ksub: Int = VectorOps.PqSubCentroids): String =
    snapshotArtifact(dir, "embeddings.parquet",
      if (cells == VectorOps.NumCentroids && m == VectorOps.PqSubspaces &&
          ksub == VectorOps.PqSubCentroids) {
        if (residual) "ivfpq_res_index.parquet" else "ivfpq_index.parquet"
      } else s"ivfpq_${if (residual) "res_" else ""}index" +
        s"_k${cells}_m${m}_ks$ksub.parquet",
      "ivfpq_index", residual, cells, VectorOps.KMeansIters,
      m, ksub, VectorOps.PqIters,
      VectorOps.KMeansGrid, VectorOps.Dim)(p =>
      VectorOps.ivfPqIndex(Tables.embeddings(s, dir), cents, books, residual)
        .write.partitionBy("cell").parquet(p))

  /** The cell-partitioned residual-IVFADC index over CHUNK vectors —
    * the x60 artifact convention applied to the composite-key chunk
    * frame: built once per (fixture pair, codebook + chunk constants)
    * key, served with the probed-cell partition-pruned read. Keyed on
    * BOTH fixture files: chunk vectors derive from docs (the chunk
    * count) AND embeddings (the vector). */
  private def chunkIvfPqIndexFor(s: SparkSession, dir: String,
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      cells: Int = VectorOps.NumCentroids,
      m: Int = VectorOps.PqSubspaces,
      ksub: Int = VectorOps.PqSubCentroids): String = {
    val fd = new java.io.File(s"$dir/documents.parquet")
    snapshotArtifact(dir, "embeddings.parquet",
      if (cells == VectorOps.NumCentroids && m == VectorOps.PqSubspaces &&
          ksub == VectorOps.PqSubCentroids)
        "chunk_ivfpq_index.parquet"
      else s"chunk_ivfpq_index_k${cells}_m${m}_ks$ksub.parquet",
      "chunk_ivfpq", fd.lastModified(), fd.length(),
      cells, VectorOps.KMeansIters,
      m, ksub, VectorOps.PqIters,
      VectorOps.KMeansGrid, VectorOps.Dim, VectorOps.ChunkStride,
      TextOps.ChunkWindow, TextOps.ChunkOverlap)(p =>
      VectorOps.chunkIvfPqIndex(
        VectorOps.chunkEmbeddings(
          Tables.documents(s, dir).select("doc_id", "text"),
          Tables.embeddings(s, dir).select("vec_id", "embedding")),
        cents, books)
        .write.partitionBy("cell").parquet(p))
  }

  /** The BPE-metered twin of [[chunkIvfPqIndexFor]]: the
    * cell-partitioned residual-IVFADC frame over chunk vectors keyed
    * by the LEARNED tokenizer's windows ([[TextOps.bpeChunkIds]]), so
    * the model-context-true chunk serve (x90) reads a probed,
    * partition-pruned artifact exactly like the whitespace-window
    * serve. Keyed additionally on the BPE constants — a rule-count
    * change moves every window boundary. */
  private def bpeChunkIvfPqIndexFor(s: SparkSession, dir: String,
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]]): String = {
    val fd = new java.io.File(s"$dir/documents.parquet")
    snapshotArtifact(dir, "embeddings.parquet",
      "bpe_chunk_ivfpq_index.parquet",
      "bpe_chunk_ivfpq", fd.lastModified(), fd.length(),
      VectorOps.NumCentroids, VectorOps.KMeansIters,
      VectorOps.PqSubspaces, VectorOps.PqSubCentroids, VectorOps.PqIters,
      VectorOps.KMeansGrid, VectorOps.Dim, VectorOps.ChunkStride,
      TextOps.BpeChunkWindow, TextOps.BpeChunkOverlap,
      TextOps.BpeMerges)(p =>
      VectorOps.chunkIvfPqIndex(
        VectorOps.chunkEmbeddingsFrom(
          TextOps.bpeChunkIds(
            Tables.documents(s, dir).select("doc_id", "text"),
            bpeRulesFor(s, dir)),
          Tables.embeddings(s, dir).select("vec_id", "embedding")),
        cents, books)
        .write.partitionBy("cell").parquet(p))
  }

  /** A per-snapshot parquet artifact under the tmp dir, keyed by
    * (fixture dir, fixture mtime, caller constants) and validated by
    * `_SUCCESS` + atomic rename — the same scheme as x18's signature
    * artifacts (see that registration's rationale: parquet, not
    * cache(), so plan substitution can never silently feed other
    * queries). `build` runs once per key; a lost concurrent race keeps
    * the winner's output. */
  private def snapshotArtifact(dir: String, fixture: String, name: String,
      keyParts: Any*)(build: String => Unit): String = {
    val fx = new java.io.File(s"$dir/$fixture")
    val key = artifactKey((Seq(dir, fx.lastModified(), fx.length()) ++ keyParts): _*)
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_artifacts_$key")
    val target = new java.io.File(base, name)
    if (!new java.io.File(target, "_SUCCESS").exists()) {
      val tmp = new java.io.File(base, s"$name.tmp.${System.nanoTime()}")
      build(tmp.toString)
      if (!target.getParentFile.exists()) target.getParentFile.mkdirs()
      if (!tmp.renameTo(target)) {
        val fs = new scala.reflect.io.Directory(tmp); fs.deleteRecursively()
      }
    }
    target.toString
  }

  /** The full-precision chunk-embedding frame as a per-(fixture pair)
    * parquet artifact — the curve harnesses' derivation input,
    * codebook-INDEPENDENT (chunk windows and the parity derivation
    * never touch the index constants), so one stored frame serves
    * x91/x94/x95/x97 across every sweep value and every bench run.
    * Keyed on BOTH fixtures (windows from docs, vectors from emb). */
  private def chunkEmbFor(s: SparkSession, dir: String): DataFrame = {
    val fd = new java.io.File(s"$dir/documents.parquet")
    val p = snapshotArtifact(dir, "embeddings.parquet", "chunk_emb.parquet",
      "chunkemb", fd.lastModified(), fd.length(), VectorOps.ChunkStride,
      TextOps.ChunkWindow, TextOps.ChunkOverlap, VectorOps.Dim)(path =>
      VectorOps.chunkEmbeddings(
        Tables.documents(s, dir).select("doc_id", "text"),
        Tables.embeddings(s, dir).select("vec_id", "embedding"))
        .write.mode("overwrite").parquet(path))
    s.read.parquet(p)
  }

  /** The brute exact top-k baselines (doc cosine; chunk MaxSim) as
    * per-(fixture pair, query sample, k) parquet artifacts. These are
    * the priced scans of every tuning curve and they are codebook- AND
    * code-independent — x94/x95/x97 already compute them once per
    * INVOCATION and share across sweep values; storing them shares
    * across invocations too (the bench's repeated runs, a retune
    * cadence), leaving each curve run's live work at the probe/ADC
    * chain it actually measures. */
  private def exactTopKFor(s: SparkSession, dir: String,
      queryIds: Seq[Long], k: Int): (DataFrame, DataFrame) = {
    val fd = new java.io.File(s"$dir/documents.parquet")
    val dPath = snapshotArtifact(dir, "embeddings.parquet",
      "exact_doc_topk.parquet",
      "exactdoc", queryIds.mkString(","), k, VectorOps.Dim)(p =>
      VectorOps.cosineTopK(Tables.embeddings(s, dir), queryIds, k)
        .select("query_id", "vec_id")
        .write.mode("overwrite").parquet(p))
    val cPath = snapshotArtifact(dir, "embeddings.parquet",
      "exact_chunk_topk.parquet",
      "exactchunk", fd.lastModified(), fd.length(),
      queryIds.mkString(","), k, VectorOps.ChunkStride,
      TextOps.ChunkWindow, TextOps.ChunkOverlap, VectorOps.Dim)(p =>
      VectorOps.multiVectorTopK(chunkEmbFor(s, dir),
          Tables.embeddings(s, dir), queryIds, k)
        .select("query_id", "doc_id")
        .write.mode("overwrite").parquet(p))
    (s.read.parquet(dPath), s.read.parquet(cPath))
  }

  /** The published [[graft.serve.Retrieval]] snapshot for a fixture,
    * built once per (fixture pair, engine constants) key under the tmp
    * dir — the deployment handle itself, registered so the one API a
    * user actually calls is oracle-gated end-to-end. Training inside
    * `build` is deterministic, so a cached snapshot serves
    * bit-identically to a fresh one. */
  private def retrievalFor(s: SparkSession, dir: String): graft.serve.Retrieval = {
    val fe = new java.io.File(s"$dir/embeddings.parquet")
    val fd = new java.io.File(s"$dir/documents.parquet")
    val key = artifactKey(dir, fe.lastModified(), fe.length(),
      fd.lastModified(), fd.length(), "retrieval",
      graft.serve.Retrieval.LayoutVersion,
      "cells-adaptive", VectorOps.KMeansIters, VectorOps.PqSubspaces,
      VectorOps.PqSubCentroids, VectorOps.PqIters, VectorOps.KMeansGrid,
      VectorOps.Dim)
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_retrieval_$key")
    // memoize the HANDLE, not just the snapshot: a serve process holds
    // its handle open across queries, and the handle's lazy relations
    // resolve the frame listings once. Safe because the snapshot under
    // a key is immutable (built once, never rebuilt). Keyed by
    // (snapshot path, SparkContext): a handle's lazy relations bind to
    // the session of the first call, so a path-only key would hand a
    // later, different (or restarted) context a handle executing on
    // the stale one. The context OBJECT is the key component (reference
    // equality), and entries for stopped contexts are evicted on the
    // way in so a context-cycling JVM doesn't pin dead object graphs.
    liveHandles.keySet.removeIf(k => k._2.isStopped)
    liveHandles.computeIfAbsent((root.toString, s.sparkContext), { r =>
      if (new java.io.File(root, "codebook.txt").exists())
        graft.serve.Retrieval.load(s, r._1)
      else graft.serve.Retrieval.build(
        Tables.documents(s, dir).select("doc_id", "text"),
        Tables.embeddings(s, dir).select("vec_id", "embedding"),
        r._1)
    })
  }

  private val liveHandles = new java.util.concurrent.ConcurrentHashMap[
    (String, org.apache.spark.SparkContext), graft.serve.Retrieval]()

  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val singleByteValidated =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The GENERATIONAL [[graft.streaming.StreamingBloom]] chain for a
    * fixture (x102): gen-1 screens two micro-batches at a geometry
    * sized for batch 0 ALONE — so batch 1 outgrows it, the half-full
    * scenario `rebuildInto` exists for — then the rebuild folds every
    * accepted key into a 4× larger gen-2 artifact and the increment
    * (x98's shape: fresh rows + re-presented corpus content under
    * shifted ids) screens against the inherited history as gen-2's own
    * batch 0. Built once per fixture key; the registered query reads
    * gen-2's batch-0 verdicts, and the oracle replays the whole chain
    * in SQL ([[graft.streaming.StreamingBloom.generationalScreenSql]])
    * — gen-1's deterministic false positives shape the very history
    * gen-2 inherits, so the hash gate covers the rebuild end-to-end. */
  private def streamedBloomVerdicts(s: SparkSession, dir: String)
      : DataFrame = {
    val fd = new java.io.File(s"$dir/documents.parquet")
    val key = artifactKey(dir, fd.lastModified(), fd.length(),
      "streambloomgen", Dedup.BloomHashes)
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_streambloom_$key")
    val done = new java.io.File(root, "STREAM_DONE")
    if (!done.exists())
      rootLocks.computeIfAbsent(root.toString, _ => new Object).synchronized {
        if (!done.exists()) {
          // a half-built chain restarts whole: rebuildInto refuses a
          // committed gen-2 bloom dir (its crash-safety contract), so
          // a partial cache entry is cheapest to wipe and redo
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(root); root.mkdirs()
          val d = Tables.documents(s, dir).select("doc_id", "text")
          val mbits1 = Dedup.adaptiveBloomBits(
            d.where(col("doc_id") % 3 === 1).count())
          val gen1 = new graft.streaming.StreamingBloom(
            s"$root/gen1", s"$root/gen1v", mbits1)
          gen1.screenBatch(d.where(col("doc_id") % 3 === 1), 0)
          gen1.screenBatch(d.where(col("doc_id") % 3 === 2), 1)
          val gen2 = gen1.rebuildInto(s, s"$root/gen2", s"$root/gen2v",
            newMbits = 4 * mbits1)
          gen2.screenBatch(
            d.where(col("doc_id") % 3 === 0)
              .unionByName(d.where(col("doc_id") % 3 =!= 0 &&
                  col("doc_id") % 7 === 1)
                .select((col("doc_id") + 1000000L).as("doc_id"),
                  col("text"))),
            0)
          done.createNewFile()
          ()
        }
      }
    s.read.parquet(s"$root/gen2v").where(col("gbatch") === 0)
      .select("doc_id", "maybe_seen", "accepted")
  }

  /** The streamed DELETE/RE-ACCEPT chain (x106) — [[graft.streaming
    * .StreamingCountingBloom]]'s three-batch fixture: batch 0 inserts,
    * batch 1 mixed (fresh inserts + exact-validated deletes of batch-0
    * content, one deliberately invalid), batch 2 re-presenting deleted
    * content (which must screen never-seen and be RE-ACCEPTED — the
    * verdict the bit stream structurally cannot produce), surviving
    * content, and salted fresh rows. Built once per fixture key under
    * the STREAM_DONE convention (half-built chains wipe and redo). */
  private def streamedCountingVerdicts(s: SparkSession, dir: String,
      shards: Int = 1): DataFrame = {
    val fd = new java.io.File(s"$dir/documents.parquet")
    // shards enters the key only when non-default (the pinConstants
    // digest rule): x106's pre-existing shards=1 fixture keeps its
    // cached artifact instead of orphaning it under a new key
    val key =
      if (shards > 1) artifactKey(dir, fd.lastModified(), fd.length(),
        "streamcntbloom", Dedup.BloomHashes, shards)
      else artifactKey(dir, fd.lastModified(), fd.length(),
        "streamcntbloom", Dedup.BloomHashes)
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_streamcnt_$key")
    val done = new java.io.File(root, "STREAM_DONE")
    if (!done.exists())
      rootLocks.computeIfAbsent(root.toString, _ => new Object).synchronized {
        if (!done.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(root); root.mkdirs()
          val d = Tables.documents(s, dir).select("doc_id", "text")
          def ins(df: DataFrame) = df.withColumn("op", lit("insert"))
          def del(df: DataFrame) = df.withColumn("op", lit("delete"))
          val mbits = Dedup.adaptiveBloomBits(
            d.where(col("doc_id") % 3 === 1).count())
          val scb = new graft.streaming.StreamingCountingBloom(
            s"$root/art", s"$root/v", mbits, shards = shards)
          scb.screenBatch(ins(d.where(col("doc_id") % 3 === 1)), 0)
          scb.screenBatch(
            ins(d.where(col("doc_id") % 3 === 2)).unionByName(
              del(d.where(col("doc_id") % 3 === 1 &&
                col("doc_id") % 5 === 1)).unionByName(
                del(d.where(col("doc_id") % 3 === 0 &&
                  col("doc_id") % 7 === 2)))), 1)
          scb.screenBatch(ins(
            d.where(col("doc_id") % 3 === 1 && col("doc_id") % 5 === 1)
              .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
              .unionByName(d.where(col("doc_id") % 3 === 1 &&
                  col("doc_id") % 5 =!= 1 && col("doc_id") % 4 === 0)
                .select((col("doc_id") + 2000000L).as("doc_id"),
                  col("text")))
              .unionByName(d.where(col("doc_id") % 3 === 0 &&
                  col("doc_id") % 4 === 1)
                .select((col("doc_id") + 3000000L).as("doc_id"),
                  concat(col("text"), lit(" fresh "),
                    col("doc_id").cast("string")).as("text")))), 2)
          done.createNewFile()
          ()
        }
      }
    s.read.parquet(s"$root/v").where(col("gbatch") === 2)
      .select("doc_id", "maybe_seen", "applied")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the deployment surface end-to-end: one handle over the published
    // snapshot artifacts (cell-partitioned residual IVFADC index +
    // tf/dl lexical index + codebooks), default hybrid policy — the
    // oracle composes the BM25 chain with the refine chain under RRF
    "x67_snapshot_search" -> ((s, dir) =>
      retrievalFor(s, dir).search(Bm25Queries, 5)
        .orderBy("query_id", "rn")),
    // chunk-ranked, doc-deduped lexical retrieval over the raw corpus:
    // chunks are the BM25 documents, each doc keeps its best chunk
    // (the RAG attribution), docs ranked by best-chunk score
    "x78_chunk_topk" -> ((s, dir) =>
      TextOps.bm25ChunkTopK(Tables.documents(s, dir), Bm25Queries, 5)
        .orderBy("query_id", "rn")),
    // --- dedup -----------------------------------------------------------
    "x1_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(Tables.documents(s, dir)).orderBy("doc_id")),
    // the Bloom INGEST SCREEN: "was this content ever in the corpus",
    // answered from the corpus's fixed-size bit-array frame (built
    // once per snapshot; here inline) instead of an anti-join against
    // the corpus — x1's question at ingest cost. Both the
    // no-false-negative guarantee AND the exact (deterministic)
    // false-positive set are hash-gated. doc_id % 3 splits corpus vs
    // genuinely-new increment (the x54 convention), and corpus
    // docs RE-PRESENTED under shifted ids join the increment — the
    // re-crawl rows that make exact_seen/maybe_seen non-vacuous at
    // every SF (the fixtures plant near-dups, not cross-id exact dups)
    "x98_bloom_screen" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val inc = d.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 3 =!= 0 &&
            col("doc_id") % 7 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.ingestScreen(d.where(col("doc_id") % 3 =!= 0), inc)
        .orderBy("doc_id")
    }),
    // the SHARDED twin of x98 — the scale path adaptiveBloomBits'
    // refusal points at: one flat bit array tops out near 10^8 keys,
    // so each key routes to hash(key) mod shards and each shard holds
    // its own array. Same increment shape, same guarantees, the screen
    // join keyed on (shard, word) — an equi-join the planner
    // broadcasts only while the frame fits
    "x100_sharded_screen" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val inc = d.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 3 =!= 0 &&
            col("doc_id") % 7 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.ingestScreenSharded(d.where(col("doc_id") % 3 =!= 0), inc,
        shards = 4, mbits = 1 << 14)
        .orderBy("doc_id")
    }),
    // the COMPOSITION the screen exists for: the increment's final
    // new-vs-dup verdict with exactly the anti-join's contract (the
    // oracle never mentions the filter) while the plan runs the 100 TB
    // shape — definitely-new rows never touch the corpus; only the
    // maybe_seen suspects confirm, broadcast against one corpus map
    // pass
    "x101_bloom_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val inc = d.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 3 =!= 0 &&
            col("doc_id") % 7 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.bloomAcceleratedDedup(d.where(col("doc_id") % 3 =!= 0), inc)
        .orderBy("doc_id")
    }),
    // the DELETE-CORRECT counting twin (x103): the corpus DROPS a
    // fifth of its docs and the filter follows by per-position
    // decrements — never a rebuild — so re-presented content from the
    // deleted docs screens as never-seen (the exact twin audits
    // against the SURVIVING corpus) while surviving re-presents keep
    // flagging; the counting frame, the decrements, the zero-drop, and
    // the deterministic FP set all replay in the oracle
    "x103_counting_screen" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val corpus = d.where(col("doc_id") % 3 =!= 0)
      val inc = d.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 3 =!= 0 &&
            col("doc_id") % 7 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.ingestScreenCounting(corpus,
        corpus.where(col("doc_id") % 5 === 1), inc)
        .orderBy("doc_id")
    }),
    // the MULTIPLICITY screen (x107): the counting frame re-read as a
    // CountMin sketch — per increment doc, min over its khash
    // positions' counts upper-bounds how often its content occurs in
    // the corpus (crawl-frequency weighting without a corpus join);
    // the corpus self-union plants true multiplicities of 1/2/3, the
    // exact-truth twin audits the ≥-bound, and the deterministic
    // positions make even the overcounts hash-check
    "x107_counting_multiplicity" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = d.unionByName(
        d.where(col("doc_id") % 4 === 2)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(d.where(col("doc_id") % 8 === 2)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val inc = d.where(col("doc_id") % 3 === 0).unionByName(
        d.where(col("doc_id") % 3 === 1).select(col("doc_id"),
          concat(col("text"), lit(" fresh "),
            col("doc_id").cast("string")).as("text")))
      Dedup.multiplicityScreen(corpus, inc, shards = 4,
        mbits = 1 << 14).orderBy("doc_id")
    }),
    // the sharded counting twin (x104) — the delete-capable filter's
    // scale path past the flat form's ~10^8-key ceiling: same
    // delete-correct verdicts and deterministic FP set, the frame
    // keyed (shard, pos) so no single position space ever outgrows
    // (adaptiveCountingGeometry sizes both knobs from the corpus
    // count; shards=1 is row-identical to the flat form, spec-pinned)
    "x104_counting_sharded_screen" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val corpus = d.where(col("doc_id") % 3 =!= 0)
      val inc = d.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 3 =!= 0 &&
            col("doc_id") % 7 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.ingestScreenCountingSharded(corpus,
        corpus.where(col("doc_id") % 5 === 1), inc,
        shards = 4, mbits = 1 << 14)
        .orderBy("doc_id")
    }),
    // the STREAMED generational chain, gated (x102): two gen-1
    // micro-batches at a batch-0-sized geometry, rebuildInto a 4×
    // gen-2, the increment screened against the inherited history as
    // gen-2's batch 0 — the streamed chain promoted to a registry
    // query (the spec pins the frames; this prices and
    // hash-checks the chain's verdicts against a full SQL replay)
    "x102_bloom_rebuild_screen" -> ((s, dir) =>
      streamedBloomVerdicts(s, dir).orderBy("doc_id")),
    // the streamed DELETE/RE-ACCEPT chain (x106): the counting
    // filter's SUM-fold makes per-batch delta slices replay-idempotent
    // where the bit stream's OR-fold cannot un-set — deletes validate
    // exactly against the key-delta record, deleted content's
    // positions fold back to zero, and its re-presentation is
    // RE-ACCEPTED; the full three-batch chain (greedy accepts,
    // deterministic FPs, the invalid delete) replays in SQL
    "x106_streamed_counting_screen" -> ((s, dir) =>
      streamedCountingVerdicts(s, dir).orderBy("doc_id")),
    // the streamed chain's SCALE path (x108): the x106 delete/
    // re-accept contract with the filter keyed (shard, pos) — the
    // batch family's past-2^30-positions sharding (x104) now held
    // online, slice deltas and the screen equi-join carrying the
    // shard id; shards=1 is spec-pinned byte-identical to the flat
    // chain, and the full sharded chain replays in SQL
    "x108_streamed_counting_sharded" -> ((s, dir) =>
      streamedCountingVerdicts(s, dir, shards = 4).orderBy("doc_id")),
    "x2_minhash_pairs" -> ((s, dir) =>
      Dedup.nearDupPairs(Tables.documents(s, dir), PairJaccard)
        .orderBy("doc_a", "doc_b")),
    // the OTHER candidate confirm: normalized Levenshtein over the same
    // capped banded candidates — order-sensitive where Jaccard is
    // order-blind; the O(len²) DP runs only on the bounded candidate set
    "x71_edit_pairs" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      // the codepoint-vs-byte Levenshtein caveat, enforced in CODE:
      // Spark's levenshtein counts codepoints, DuckDB's counts bytes —
      // identical iff the corpus is single-byte. A non-ASCII fixture
      // flavor must fail loudly here, never flip the oracle hash.
      // Memoized per (fixture file, mtime, length): the fixture under
      // a dir is immutable, so the scan runs once per JVM, not per
      // benched invocation.
      val fd = new java.io.File(s"$dir/documents.parquet")
      singleByteValidated.computeIfAbsent(
        s"$dir#${fd.lastModified()}#${fd.length()}", { _ =>
          require(d.where(length(col("text")) =!=
              octet_length(col("text"))).isEmpty,
            "x71's cross-engine oracle requires a single-byte corpus " +
              "(Spark levenshtein counts codepoints, DuckDB counts bytes)")
          java.lang.Boolean.TRUE
        })
      Dedup.editDupPairs(d, EditSim).orderBy("doc_a", "doc_b")
    }),
    // RAG-style token-window chunking: map-only, no shuffle; chunk ids
    // stable for provenance joins and embedding-id composition
    "x72_doc_chunks" -> ((s, dir) =>
      TextOps.chunkDocs(Tables.documents(s, dir))
        .orderBy("doc_id", "chunk_id")),
    // BPE-style subword vocabulary induction: k merge rules learned
    // over the word-frequency vocabulary, argmax per round collected as
    // bounded metadata (the k-means convention), every rule
    // cross-engine verified by the unrolled oracle
    "x73_bpe_merges" -> ((s, dir) =>
      TextOps.bpeMerges(Tables.documents(s, dir))
        .orderBy("rank")),
    // the learned tokenizer APPLIED (the step x73's rules feed): encode
    // every document with the k merge rules — map-only broadcast-rules
    // fold, zero shuffle; rules are artifact-fed (the x26 convention:
    // training runs once per snapshot and is measured by x73; this
    // measures encode). Ids: code point for base symbols,
    // BpeMergedIdOffset + rank for merged ones.
    "x74_bpe_encode" -> ((s, dir) =>
      TextOps.bpeEncode(Tables.documents(s, dir), bpeRulesFor(s, dir))
        .orderBy("doc_id")),
    // BPE-token-TRUE chunking: x72's windows re-metered in the learned
    // tokenizer's units, emitting model-ready id windows — the context
    // budget a real embedding/packing stage actually enforces (fills
    // the registry's x75 slot; see the SURVEY §2.10k serve-matrix note)
    "x75_bpe_chunks" -> ((s, dir) =>
      TextOps.bpeChunkDocs(Tables.documents(s, dir), bpeRulesFor(s, dir))
        .orderBy("doc_id", "chunk_id")),
    // token-TRUE sequence packing: x24's packing re-keyed on the
    // learned tokenizer's counts — what a training pipeline actually
    // batches by. Same first-fit-in-key-order window, real BPE counts.
    "x76_bpe_packing" -> ((s, dir) =>
      graft.operators.Sampling.packByBudget(
        TextOps.bpeEncode(Tables.documents(s, dir), bpeRulesFor(s, dir),
          extra = Seq("lang"))
          .select("doc_id", "lang", "n_bpe_tokens"),
        "lang", "doc_id", "n_bpe_tokens", BpePackBudget)
        .orderBy("doc_id")),
    // token-TRUE budget selection: x52's quality-ranked greedy select
    // with the budget metered in the learned tokenizer's counts — the
    // unit a training run's token budget actually denominates in
    "x81_bpe_budget_select" -> ((s, dir) =>
      graft.operators.Sampling.selectScoredByBudget(
        // MATERIALIZED (the tf three-consumer convention): the budget
        // walk evaluates its input three times (histogram collect,
        // keep-all filter, boundary prefix) and the BPE encode chain
        // is the expensive part of this scored frame — at corpus
        // scale that is three tokenize+encode passes for one
        Dedup.materialize(
          TextOps.bpeQualityScored(Tables.documents(s, dir),
              bpeRulesFor(s, dir))
            .where(col("uniq_ratio").isNotNull), None),
        SelectBudget)
        .orderBy("doc_id")),
    // the MODEL-CONTEXT-TRUE chunk hybrid: both halves rank BPE-metered
    // windows (the budget a real embedding model's context enforces) —
    // the lexical half over BPE-SYMBOL chunk stats with the queries
    // encoded by the same learned rules (the tokenizer symmetry at
    // subword level), the dense half over chunk vectors keyed by the
    // same windows, served probe-pruned from the cell-partitioned
    // artifact. Closes the serve-matrix split where chunk serves
    // metered whitespace tokens while packing/budget/shard (x76/x81/
    // x82) metered learned units.
    "x90_bpe_chunk_search" -> ((s, dir) => {
      val rules = bpeRulesFor(s, dir)
      val cents = codebookFor(s, dir)
      val books = pqResBooksFor(s, dir)
      val path = bpeChunkIvfPqIndexFor(s, dir, cents, books)
      val bq = Bm25Queries.map { case (id, ts) =>
        id -> TextOps.bpeEncodeTerms(ts, rules)
      }
      // the BPE-symbol chunk stats are index-build work (the bm25IndexFor
      // convention): computed once per snapshot, the serve reads stored
      // frames — so the benched query measures the SERVE, and the
      // production shape (stored subword postings) is what runs
      lazy val stats = TextOps.bpeChunkBm25Stats(
        Tables.documents(s, dir).select("doc_id", "text"), rules)
      val bpeKey = Seq(TextOps.BpeMerges, TextOps.BpeChunkWindow,
        TextOps.BpeChunkOverlap)
      val ctfP = snapshotArtifact(dir, "documents.parquet",
        "bpe_ctf.parquet", ("bpectf" +: bpeKey): _*)(p =>
        stats._1.write.mode("overwrite").parquet(p))
      val cdlP = snapshotArtifact(dir, "documents.parquet",
        "bpe_cdl.parquet", ("bpecdl" +: bpeKey): _*)(p =>
        stats._2.write.mode("overwrite").parquet(p))
      graft.operators.HybridOps.chunkHybridTopKFrom(
        s.read.parquet(ctfP), s.read.parquet(cdlP),
        s.read.schema(IvfPqIndexSchema).parquet(path),
        Tables.embeddings(s, dir).select("vec_id", "embedding"),
        bq, 5, cents, books)
        .orderBy("query_id", "rn")
    }),
    // token-TRUE shard balance: x55's skew report with token mass in
    // BPE units (a loader is throttled by real token mass per shard)
    "x82_bpe_shard_stats" -> ((s, dir) =>
      graft.operators.Sampling.shardStats(
        TextOps.bpeEncode(Tables.documents(s, dir), bpeRulesFor(s, dir))
          .select("doc_id", "n_bpe_tokens"),
        "doc_id", "n_bpe_tokens", 16)
        .orderBy("shard")),
    "x3_neardup_dedup" -> ((s, dir) =>
      Dedup.nearDupDedup(Tables.documents(s, dir), DedupJaccard).orderBy("doc_id")),
    // transitive duplicate clusters (large-star/small-star connected
    // components over the confirmed pair graph); NOTE: constructing this
    // frame RUNS the contraction loop (localCheckpoint per round) — a
    // deliberate exception to the registry's lazy-build norm, like x18.
    // The confirmed-pair graph (x2's output) is artifact-fed: pairs are
    // computed once per snapshot and the query measures the CC loop,
    // not a MinHash rebuild (x2 keeps measuring the build itself)
    "x26_dup_clusters" -> ((s, dir) => {
      val pairs = snapshotArtifact(dir, "documents.parquet",
        "neardup_pairs.parquet", PairJaccard)(
        p => Dedup.nearDupPairs(Tables.documents(s, dir), PairJaccard)
          .write.mode("overwrite").parquet(p))
      Dedup.duplicateClusters(s.read.parquet(pairs)).orderBy("doc_id")
    }),
    // PageRank over the confirmed near-dup pair graph: graph
    // centrality as the CANONICALNESS signal next to x53's content
    // quality — 3 fixed rounds, decimal-grid neighbor sums, artifact-
    // fed pairs (measures the rank loop, not a MinHash rebuild)
    "x68_pair_pagerank" -> ((s, dir) => {
      val pairs = snapshotArtifact(dir, "documents.parquet",
        "neardup_pairs.parquet", PairJaccard)(
        p => Dedup.nearDupPairs(Tables.documents(s, dir), PairJaccard)
          .write.mode("overwrite").parquet(p))
      Dedup.pairGraphRank(s.read.parquet(pairs)).orderBy("doc_id")
    }),
    // TrustRank: x68's walk with the teleport seeded by content
    // quality — rank propagates the quality prior through the dup
    // graph (a junk mirror of good pages inherits standing, an
    // isolated junk clique gets none)
    "x69_quality_rank" -> ((s, dir) => {
      val pairs = snapshotArtifact(dir, "documents.parquet",
        "neardup_pairs.parquet", PairJaccard)(
        p => Dedup.nearDupPairs(Tables.documents(s, dir), PairJaccard)
          .write.mode("overwrite").parquet(p))
      Dedup.qualityRank(s.read.parquet(pairs),
        TextOps.qualityScore(Tables.documents(s, dir)))
        .orderBy("doc_id")
    }),
    // keep-the-BEST-copy policy over x26's clusters: highest-quality
    // member per duplicate group (argmax as a map-side-combined struct
    // max, hub-cluster-safe). Artifact-fed one level deeper than x37:
    // the CLUSTER LABELING is itself a per-snapshot artifact (built
    // from the pairs artifact — the same labels incremental
    // maintenance feeds on), so x26 measures the CC build and x53
    // measures only the policy (the x36-vs-x37 convention)
    "x53_cluster_reps" -> ((s, dir) => {
      val pairs = snapshotArtifact(dir, "documents.parquet",
        "neardup_pairs.parquet", PairJaccard)(
        p => Dedup.nearDupPairs(Tables.documents(s, dir), PairJaccard)
          .write.mode("overwrite").parquet(p))
      val clusters = snapshotArtifact(dir, "documents.parquet",
        "dup_clusters.parquet", PairJaccard)(
        p => Dedup.duplicateClusters(s.read.parquet(pairs))
          .write.mode("overwrite").parquet(p))
      Dedup.clusterRepresentatives(
        s.read.parquet(clusters),
        TextOps.qualityScore(Tables.documents(s, dir)))
        .orderBy("cluster_id")
    }),
    // exact substring dedup (Lee et al., ACL'22): verbatim shared extents
    // ≥ MinExtent chars across doc pairs, via anchor-window equi-join +
    // diagonal run merge (the distributed stand-in for a suffix array)
    "x36_substring_dups" -> ((s, dir) =>
      Dedup.substringDups(Tables.documents(s, dir))
        .orderBy("doc_a", "doc_b", "a_start", "b_start")),
    // winnowing candidate pairs (Schleimer et al., SIGMOD'03): docs
    // sharing surviving window-min fingerprints — guaranteed to catch
    // any shared run >= k+w-1 chars at w-fold fewer join keys than x36
    "x49_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(Tables.documents(s, dir))
        .orderBy("doc_a", "doc_b")),
    // doc-level removal policy over x36's extents, artifact-fed: the
    // extent frame (x36's output) is computed once per snapshot and
    // every downstream policy consumes it — x36 measures the build,
    // x37 measures the policy (the x16-vs-x18 convention)
    "x37_dup_coverage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ext = snapshotArtifact(dir, "documents.parquet", "sub_extents.parquet",
        Dedup.AnchorLen, Dedup.MaxAnchorOcc, Dedup.MinExtent)(
        p => Dedup.substringDups(docs).write.mode("overwrite").parquet(p))
      Dedup.substringDupStatsFrom(docs, s.read.parquet(ext)).orderBy("doc_id")
    }),
    // the cut step (Lee et al. delete the SPANS, not the docs): cleaned
    // text with duplicated extents removed, artifact-fed like x37
    "x40_substring_scrub" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ext = snapshotArtifact(dir, "documents.parquet", "sub_extents.parquet",
        Dedup.AnchorLen, Dedup.MaxAnchorOcc, Dedup.MinExtent)(
        p => Dedup.substringDups(docs).write.mode("overwrite").parquet(p))
      Dedup.substringScrubFrom(docs, s.read.parquet(ext)).orderBy("doc_id")
    }),
    // per-source drop dashboard: both policies' drop lists derived from
    // the persisted pair/extent artifacts (the near-dup list filters the
    // 0.5-threshold pair artifact at DedupJaccard — it contains every
    // higher-threshold pair), so the report re-hashes nothing
    "x42_source_drop_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = snapshotArtifact(dir, "documents.parquet",
        "neardup_pairs.parquet", PairJaccard)(
        p => Dedup.nearDupPairs(docs, PairJaccard)
          .write.mode("overwrite").parquet(p))
      val ext = snapshotArtifact(dir, "documents.parquet", "sub_extents.parquet",
        Dedup.AnchorLen, Dedup.MaxAnchorOcc, Dedup.MinExtent)(
        p => Dedup.substringDups(docs).write.mode("overwrite").parquet(p))
      Dedup.sourceDropReport(docs,
        s.read.parquet(pairs).where(col("jaccard") >= DedupJaccard)
          .select(col("doc_b").as("doc_id")),
        Dedup.substringDupStatsFrom(docs, s.read.parquet(ext))
          .where(col("dropped")).select("doc_id"))
        .orderBy("source")
    }),
    // cross-corpus substring screening: new-crawl (odd ids) text checked
    // verbatim against the existing snapshot (even ids) purely via the
    // two persisted anchor artifacts — neither corpus's text re-read
    "x39_cross_substring" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def anchors(par: Int) = snapshotArtifact(dir, "documents.parquet",
        s"anchors_$par.parquet", Dedup.AnchorLen, par)(
        // compact at WRITE, not at kernel (guide §6 / r20 what's-wrong
        // #4): anchorFrame localCheckpoints at full spread width, so the
        // digest kernel has already run wide when this coalesce merges
        // the checkpointed blocks into one publish file — the timed x39
        // read then lists 1 file per corpus half instead of 32 (a 100 TB
        // publish sizes files by bytes instead — ~128 MB targets — but
        // never by the kernel's task count)
        p => Dedup.anchorFrame(docs.where(col("doc_id") % 2 === par))
          .coalesce(1).write.mode("overwrite").parquet(p))
      Dedup.crossSubstringDups(
        s.read.parquet(anchors(0)), s.read.parquet(anchors(1)))
        .orderBy("doc_a", "doc_b", "a_start", "b_start")
    }),

    // --- text analysis ---------------------------------------------------
    "x4_term_freq" -> ((s, dir) =>
      TextOps.termFrequencies(Tables.documents(s, dir)).orderBy("lang", "token")),
    "x5_lang_id" -> ((s, dir) =>
      TextOps.languageId(Tables.documents(s, dir)).orderBy("doc_id")),
    "x33_lang_confusion" -> ((s, dir) =>
      TextOps.languageConfusion(Tables.documents(s, dir))
        .orderBy("lang_actual", "lang_pred")),
    "x6_quality_score" -> ((s, dir) =>
      TextOps.qualityScore(Tables.documents(s, dir)).orderBy("doc_id")),
    "x7_token_counts" -> ((s, dir) =>
      TextOps.tokenCounts(Tables.documents(s, dir)).orderBy("doc_id")),
    "x8_simhash" -> ((s, dir) =>
      TextOps.simHash(Tables.documents(s, dir)).orderBy("doc_id")),
    // unigram-LM surprisal (the oracle-checkable stand-in for CCNet-style
    // perplexity quality filtering)
    "x38_unigram_surprisal" -> ((s, dir) =>
      TextOps.unigramSurprisal(Tables.documents(s, dir)).orderBy("doc_id")),
    // bigram-LM surprisal: one model order up — catches common-token,
    // implausible-ORDER docs the unigram model waves through
    "x45_bigram_surprisal" -> ((s, dir) =>
      TextOps.bigramSurprisal(Tables.documents(s, dir)).orderBy("doc_id")),
    // CCNet head/middle/tail cut: per-language surprisal terciles — the
    // decision step the surprisal score feeds
    "x46_surprisal_bands" -> ((s, dir) =>
      TextOps.surprisalBands(Tables.documents(s, dir)).orderBy("doc_id")),
    "x9_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(Tables.documents(s, dir)).orderBy("doc_id")),

    // --- similarity search ----------------------------------------------
    // multi-vector dense retrieval, the LABELED EXACT BASELINE of the
    // chunk-dense family (the x10 ⟷ x58-x65 relationship at chunk
    // level): one vector per chunk, brute MaxSim fusion to docs (best
    // chunk kept as attribution). Production serves run x85's indexed
    // chain; this brute scan exists to gate it (x44's chunk_ivfpq
    // recall row scores against THIS). Chunk vectors derive
    // deterministically from the fixtures (parity-reversal stand-in
    // for a chunk-embedding model)
    "x83_multivector_topk" -> ((s, dir) =>
      VectorOps.multiVectorTopK(
        VectorOps.chunkEmbeddings(
          Tables.documents(s, dir).select("doc_id", "text"),
          Tables.embeddings(s, dir).select("vec_id", "embedding")),
        Tables.embeddings(s, dir), QueryVecs, 5)
        .orderBy("query_id", "rn")),
    // the full chunk-level HYBRID: chunk-BM25 fused with the INDEXED
    // chunk-dense MaxSim serve (x85's probe-pruned ADC chain over the
    // cached cell-partitioned artifact), both doc-deduped, attribution
    // from either half — the production RAG serve composed end-to-end
    "x84_chunk_hybrid" -> ((s, dir) => {
      val cents = codebookFor(s, dir)
      val books = pqResBooksFor(s, dir)
      val path = chunkIvfPqIndexFor(s, dir, cents, books)
      graft.operators.HybridOps.chunkHybridTopK(
        Tables.documents(s, dir).select("doc_id", "text"),
        Tables.embeddings(s, dir).select("vec_id", "embedding"),
        Bm25Queries, 5, cents = Some(cents), books = Some(books),
        chunkIndex = Some(s.read.schema(IvfPqIndexSchema).parquet(path)))
        .orderBy("query_id", "rn")
    }),
    // the INDEXED chunk-dense serve — x83's production variant (the
    // x10 ⟷ x58-x65 relationship at chunk level): chunk vectors encoded
    // through the residual-IVFADC path under a composite (doc, chunk)
    // key, served from the cell-partitioned artifact with the
    // probe-pruned read, MaxSim AFTER the pruned ADC scan
    "x85_chunk_ivfpq" -> ((s, dir) => {
      val cents = codebookFor(s, dir)
      val books = pqResBooksFor(s, dir)
      val emb = Tables.embeddings(s, dir)
      val path = chunkIvfPqIndexFor(s, dir, cents, books)
      val probe = VectorOps.probePlanOf(emb, QueryVecs, cents, nprobe = 2)
      val index = s.read.schema(IvfPqIndexSchema).parquet(path)
        .where(col("cell").isin(probe.cells: _*))
      VectorOps.chunkIvfPqTopKFromIndex(index, emb, QueryVecs, 5,
        nprobe = 2, cents, books, probe = Some(probe))
        .orderBy("query_id", "rn")
    }),
    // two-stage CHUNK refine — x63's production re-ranking shape at
    // chunk level: ADC shortlist of 20 chunks per query from the
    // probe-pruned composite-key index, exact rerank of only those
    // chunk vectors, MaxSim + doc rank over the exact scores
    "x87_chunk_refine" -> ((s, dir) => {
      val cents = codebookFor(s, dir)
      val books = pqResBooksFor(s, dir)
      val emb = Tables.embeddings(s, dir)
      val path = chunkIvfPqIndexFor(s, dir, cents, books)
      val probe = VectorOps.probePlanOf(emb, QueryVecs, cents, nprobe = 2)
      val index = s.read.schema(IvfPqIndexSchema).parquet(path)
        .where(col("cell").isin(probe.cells: _*))
      val chunkEmb = VectorOps.chunkEmbeddings(
        Tables.documents(s, dir).select("doc_id", "text"),
        emb.select("vec_id", "embedding"))
      VectorOps.chunkIvfPqRefineTopK(index, chunkEmb, emb, QueryVecs, 5,
        r = 20, nprobe = 2, cents, books, probe = Some(probe))
        .orderBy("query_id", "rn")
    }),
    "x10_cosine_topk" -> ((s, dir) =>
      VectorOps.cosineTopK(Tables.embeddings(s, dir), QueryVecs, 10)
        .orderBy("query_id", "rn")),
    "x11_ann_topk" -> ((s, dir) =>
      VectorOps.annTopK(Tables.embeddings(s, dir), QueryVecs, 5)
        .orderBy("query_id", "rn")),
    "x12_embedding_neardup" -> ((s, dir) =>
      VectorOps.embeddingNearDups(Tables.embeddings(s, dir), MinCosine)
        .orderBy("vec_a", "vec_b")),
    // SemDeDup: one representative per transitive embedding near-dup
    // cluster (bucketed pairs → star-contraction CC; `WHERE kept` is
    // the curated corpus)
    "x43_semantic_dedup" -> ((s, dir) =>
      VectorOps.semanticDedup(Tables.embeddings(s, dir), MinCosine)
        .orderBy("vec_id")),
    // new-batch embeddings (odd vec_ids) screened against the existing
    // snapshot (even) — the scan incremental semantic dedup feeds on
    "x47_cross_embedding_pairs" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      VectorOps.crossEmbeddingNearDups(
        emb.where(col("vec_id") % 2 === 1),
        emb.where(col("vec_id") % 2 === 0), MinCosine)
        .orderBy("vec_a", "vec_b")
    }),
    // the incremental path registered against the BATCH oracle: labels
    // for old∪new via star edges + fresh new×new / new×old pairs must
    // reproduce x43's closure exactly — equivalence checked by the
    // driver's own hash gate, not just a spec. The prior snapshot's
    // labels are artifact-fed (in production they are the previous
    // run's OUTPUT, never recomputed), so the query measures the
    // increment, not a replay of the old corpus's labelling
    "x48_semantic_dedup_inc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val old = emb.where(col("vec_id") % 2 === 0)
      val prev = snapshotArtifact(dir, "embeddings.parquet",
        "semdedup_even_labels.parquet", MinCosine)(
        p => VectorOps.semanticDedup(old, MinCosine)
          .write.mode("overwrite").parquet(p))
      VectorOps.semanticDedupIncremental(s.read.parquet(prev), old,
        emb.where(col("vec_id") % 2 === 1), MinCosine)
        .orderBy("vec_id")
    }),
    // codebook fed from the per-snapshot artifact (training is index-build
    // work, run once per corpus snapshot — not per search); values are
    // bit-identical to a fresh trainedCentroids() run, so the unrolled
    // k-means oracle still matches exactly
    "x13_ivf_topk" -> ((s, dir) =>
      VectorOps.ivfTopK(Tables.embeddings(s, dir), QueryVecs, 5, nprobe = 2,
        centroids = Some(codebookFor(s, dir)))
        .orderBy("query_id", "rn")),
    // IVF index-health report: per-cell member count + centroid coherence
    // (the ANALYZE surface consulted before training with more cells)
    "x41_ivf_cell_stats" -> ((s, dir) =>
      VectorOps.ivfCellStats(Tables.embeddings(s, dir),
        centroids = Some(codebookFor(s, dir)))
        .orderBy("cell")),
    // recall@k of every ANN variant vs the exact top-k — the index
    // acceptance metric; IVF side fed from the same codebook artifact.
    // The chunk_ivfpq row scores the stored chunk index's doc-level
    // output against x83's exact brute MaxSim — the number that
    // justifies serving multi-vector queries from the index
    "x44_ann_recall" -> ((s, dir) => {
      val cents = codebookFor(s, dir)
      val resBooks = pqResBooksFor(s, dir)
      val cpath = chunkIvfPqIndexFor(s, dir, cents, resBooks)
      VectorOps.annRecall(Tables.embeddings(s, dir), QueryVecs, 5,
        centroids = Some(cents),
        books = Some(pqBooksFor(s, dir)),
        resBooks = Some(resBooks),
        docs = Some(Tables.documents(s, dir).select("doc_id", "text")),
        chunkIndex = Some(s.read.schema(IvfPqIndexSchema).parquet(cpath)))
        .orderBy("method", "query_id")
    }),
    // the serve-knob TUNING CURVE: recall@5 of every (nprobe × refine)
    // grid point of the four production serve shapes over a 50-query
    // sample — x44 checks each variant's mechanics per query at the
    // shipped setting; this is the measurement the Retrieval defaults
    // (nprobe=2, refine=40) are justified against: at 32 cells doc-
    // refine recall@5 at nprobe=2 ran 0.352/0.500/0.628 for r=10/20/40
    // (chunk 0.304/0.428/0.564), so r=40 beats (nprobe=8, r=20) at a
    // quarter of the probed bandwidth (VectorOps.RefineShortlist).
    // One ADC pass at nprobe=8 serves the whole grid (prn-filter
    // derivation)
    "x91_recall_curve" -> ((s, dir) => {
      val cents = codebookFor(s, dir)
      val resBooks = pqResBooksFor(s, dir)
      val dpath = ivfPqIndexFor(s, dir, cents, resBooks, residual = true)
      val cpath = chunkIvfPqIndexFor(s, dir, cents, resBooks)
      val (dEx, cEx) = exactTopKFor(s, dir, CurveQueryIds, 5)
      VectorOps.recallCurve(Tables.embeddings(s, dir),
        Tables.documents(s, dir).select("doc_id", "text"),
        CurveQueryIds, 5,
        centroids = Some(cents), resBooks = Some(resBooks),
        docIndex = Some(s.read.schema(IvfPqIndexSchema).parquet(dpath)),
        chunkIndex = Some(s.read.schema(IvfPqIndexSchema).parquet(cpath)),
        chunkEmb = Some(chunkEmbFor(s, dir)),
        docExact = Some(dEx), chunkExact = Some(cEx))
        .orderBy("method", "nprobe", "r")
    }),
    // the INDEX-knob TUNING CURVE: the x91 grid swept over coarse
    // codebook size (cells ∈ CurveCells, bracketing k ≈ √n for the
    // fixtures) — the axis that moves the recall CEILING where
    // nprobe/r only trade along it. Each cell count trains its own
    // codebook + residual books (cached per (fixture, cells) key, the
    // x60 artifact convention) and re-encodes both indexes — priced as
    // a codebook migration, run when choosing a codebook. The exact
    // baselines are computed once and shared (codebook-independent)
    "x94_codebook_curve" -> ((s, dir) => {
      val (dEx, cEx) = exactTopKFor(s, dir, CurveQueryIds, 5)
      VectorOps.codebookCurve(Tables.embeddings(s, dir),
        Tables.documents(s, dir).select("doc_id", "text"),
        CurveQueryIds, 5, refines = Seq(VectorOps.RefineShortlist),
        trainedFor = Some((kc: Int) =>
          (codebookFor(s, dir, kc), pqResBooksFor(s, dir, kc))),
        indexesFor = Some { (kc: Int) =>
          val cents = codebookFor(s, dir, kc)
          val books = pqResBooksFor(s, dir, kc)
          (s.read.schema(IvfPqIndexSchema).parquet(
            ivfPqIndexFor(s, dir, cents, books, residual = true, kc)),
            s.read.schema(IvfPqIndexSchema).parquet(
              chunkIvfPqIndexFor(s, dir, cents, books, kc)))
        },
        chunkEmb = Some(chunkEmbFor(s, dir)),
        docExact = Some(dEx), chunkExact = Some(cEx))
        .orderBy("cells", "method", "nprobe", "r")
    }),
    // the CODE-BUDGET tuning curve: the x91 grid swept over PQ subspace
    // count m ∈ {4, 8, 16} at the FIXED 32-cell codebook — the third
    // index axis (x91 = serve knobs, x94 = cell count, x95 = bytes per
    // vector). The coarse codebook is shared across the sweep (cells
    // don't move when m does); per m the residual books train afresh and
    // both indexes re-encode from cached per-(fixture, m) artifacts.
    // Exact baselines computed once (code-independent)
    "x95_pq_curve" -> ((s, dir) => {
      val cents = codebookFor(s, dir)
      val (dEx, cEx) = exactTopKFor(s, dir, CurveQueryIds, 5)
      VectorOps.pqSubspacesCurve(Tables.embeddings(s, dir),
        Tables.documents(s, dir).select("doc_id", "text"),
        CurveQueryIds, 5, refines = Seq(VectorOps.RefineShortlist),
        centroids = Some(cents),
        trainedFor = Some((m: Int) => pqResBooksFor(s, dir, m = m)),
        indexesFor = Some { (m: Int) =>
          val books = pqResBooksFor(s, dir, m = m)
          (s.read.schema(IvfPqIndexSchema).parquet(
            ivfPqIndexFor(s, dir, cents, books, residual = true, m = m)),
            s.read.schema(IvfPqIndexSchema).parquet(
              chunkIvfPqIndexFor(s, dir, cents, books, m = m)))
        },
        chunkEmb = Some(chunkEmbFor(s, dir)),
        docExact = Some(dEx), chunkExact = Some(cEx))
        .orderBy("m", "method", "nprobe", "r")
    }),
    // the CODE-RESOLUTION tuning curve: the x91 grid swept over PQ
    // sub-centroid count ksub ∈ {8, 16, 32} at FIXED cells and FIXED
    // m — the last index axis (x91 = serve knobs, x94 = cell count,
    // x95 = codes per vector, x97 = values per code). Cheaper to buy
    // recall here than on the m axis when storage is tight: doubling
    // ksub adds one BIT per code (m·log2(ksub) stored bits) where
    // doubling m adds whole codes. Coarse codebook shared across the
    // sweep; per ksub the residual books train afresh and both indexes
    // re-encode from cached per-(fixture, ksub) artifacts. Exact
    // baselines computed once (code-independent)
    "x97_ksub_curve" -> ((s, dir) => {
      val cents = codebookFor(s, dir)
      val (dEx, cEx) = exactTopKFor(s, dir, CurveQueryIds, 5)
      VectorOps.pqKsubCurve(Tables.embeddings(s, dir),
        Tables.documents(s, dir).select("doc_id", "text"),
        CurveQueryIds, 5, refines = Seq(VectorOps.RefineShortlist),
        centroids = Some(cents),
        trainedFor = Some((ks: Int) => pqResBooksFor(s, dir, ksub = ks)),
        indexesFor = Some { (ks: Int) =>
          val books = pqResBooksFor(s, dir, ksub = ks)
          (s.read.schema(IvfPqIndexSchema).parquet(
            ivfPqIndexFor(s, dir, cents, books, residual = true, ksub = ks)),
            s.read.schema(IvfPqIndexSchema).parquet(
              chunkIvfPqIndexFor(s, dir, cents, books, ksub = ks)))
        },
        chunkEmb = Some(chunkEmbFor(s, dir)),
        docExact = Some(dEx), chunkExact = Some(cEx))
        .orderBy("ksub", "method", "nprobe", "r")
    }),
    "x14_top_tokens" -> ((s, dir) =>
      graft.functions.TopTokens.langTopTokens(Tables.documents(s, dir), 5)
        .orderBy("lang", "rank")),
    // Misra-Gries heavy hitters: per-lang bounded-memory sketch (k=32
    // counters, ever) vs the exact heavy set (c > n/(k+1)). Output =
    // each true heavy hitter with its exact count and the
    // order-independent guarantee booleans (in sketch; counter within
    // [c - n/(k+1), c], integer arithmetic) — the u2 device: a sketch
    // that drifts flips a boolean and the hash gate goes red. The
    // candidate set BEYOND the guarantee floor is merge-order-dependent
    // by design, so only guarantee-backed facts are emitted
    "x51_heavy_hitters" -> ((s, dir) => {
      val K = HeavyHittersK
      val tok = Tables.documents(s, dir)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
      val sk = tok.groupBy("lang").agg(
        graft.functions.MisraGriesAgg.misraGries(col("token"), K).as("sk"),
        count(lit(1)).as("n_tokens"))
      tok.groupBy("lang", "token").agg(count(lit(1)).as("c"))
        .join(sk, "lang")
        .where(col("c") * (K + 1) > col("n_tokens"))
        // try_element_at, NOT element_at: under ANSI (Spark 4 default) a
        // missing map key THROWS — a drifted sketch must turn the row
        // red at the gate, not error the whole query
        .select(col("lang"), col("token"), col("c"),
          coalesce(
            try_element_at(col("sk"), col("token")) <= col("c") &&
              try_element_at(col("sk"), col("token")) * (K + 1) >=
                col("c") * (K + 1) - col("n_tokens"),
            lit(false)).as("covered_bounded"))
        .orderBy("lang", "token")
    }),
    "x15_quality_filter" -> ((s, dir) =>
      TextOps.qualityFilter(Tables.documents(s, dir)).orderBy("doc_id")),
    "x16_curation_pipeline" -> ((s, dir) =>
      Dedup.curationPipeline(Tables.documents(s, dir), DedupJaccard)
        .orderBy("lang")),
    "x27_repetition_filter" -> ((s, dir) =>
      TextOps.repetitionMetrics(Tables.documents(s, dir)).orderBy("doc_id")),
    "x28_tfidf_top_terms" -> ((s, dir) =>
      TextOps.tfIdfTopTerms(Tables.documents(s, dir)).orderBy("doc_id", "rank")),
    // the fixture carries no PII, so the query composes deterministic
    // synthetic PII from doc_id (email, IP, long digit run) and scrubs
    // it — the oracle builds the identical text, so the redaction counts
    // and cleaned output are fully hash-checked
    "x29_pii_scrub" -> ((s, dir) =>
      TextOps.piiScrub(Tables.documents(s, dir),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com from 10.0."),
          pmod(col("doc_id"), lit(255)).cast("string"), lit("."),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit(" ref 4111111111111111")))
        .orderBy("doc_id")),

    "x17_minhash_signatures" -> ((s, dir) =>
      Dedup.minHashSignatures(Tables.documents(s, dir)).orderBy("doc_id")),

    // artifact-reuse twin of x16: signatures + shingles materialized once
    // (cache() stands in for the persisted parquet artifact a production
    // corpus snapshot would carry, i.e. x17's output) and every dedup
    // stage consumes them — the bench delta vs x16 is the measured cost
    // of recomputing the MinHash chain per query
    "x18_curation_from_sigs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the artifacts are PARQUET, not cache(): that is what a production
      // corpus snapshot carries, it pins no executor storage memory for
      // the rest of the session, and — unlike a cached frame, whose plan
      // fragment Spark's cache manager substitutes into ANY matching
      // query — parquet reads cannot silently turn x2/x3/x16/x17's
      // recompute paths into artifact reads and falsify the x16-vs-x18
      // comparison. Built once per (fixture dir, fixture mtime, minhash
      // constants) — a regenerated fixture or changed kernel constants
      // key a fresh build — and validated by _SUCCESS + atomic rename,
      // so a crashed or concurrent build can never be half-reused.
      // NOTE: building the artifact happens at frame-construction time
      // (a deliberate exception to the registry's lazy-build norm —
      // documented here so plan-only consumers know the first x18 build
      // pays two corpus scans; subsequent builds just read).
      val fixtureMtime = new java.io.File(s"$dir/documents.parquet").lastModified()
      val key = Integer.toHexString(
        (dir, fixtureMtime, Dedup.minHashSignaturesSql).hashCode())
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_artifacts_$key")
      def build(name: String, f: String => Unit): String = {
        val target = new java.io.File(base, name)
        if (!new java.io.File(target, "_SUCCESS").exists()) {
          val tmp = new java.io.File(base, s"$name.tmp.${System.nanoTime()}")
          f(tmp.toString)
          if (!target.getParentFile.exists()) target.getParentFile.mkdirs()
          if (!tmp.renameTo(target)) { // lost a concurrent race: theirs won
            val fs = new scala.reflect.io.Directory(tmp); fs.deleteRecursively()
          }
        }
        target.toString
      }
      val shPath = build("shingles.parquet",
        p => Dedup.shingleFrame(docs).write.mode("overwrite").parquet(p))
      val sigPath = build("signatures.parquet",
        p => Dedup.minHashSignaturesFrom(s.read.parquet(shPath))
          .write.mode("overwrite").parquet(p))
      Dedup.curationPipelineFrom(docs,
        s.read.parquet(sigPath), s.read.parquet(shPath), DedupJaccard)
        .orderBy("lang")
    }),

    // cross-corpus dedup: corpus B (odd doc_ids, the "new crawl") checked
    // against corpus A (even doc_ids, the "existing snapshot") purely via
    // their signature/shingle artifacts
    "x22_cross_corpus_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val shA = Dedup.shingleFrame(docs.where(col("doc_id") % 2 === 0))
      val shB = Dedup.shingleFrame(docs.where(col("doc_id") % 2 === 1))
      Dedup.crossCorpusPairs(
        Dedup.minHashSignaturesFrom(shA), shA,
        Dedup.minHashSignaturesFrom(shB), shB, PairJaccard)
        .orderBy("doc_a", "doc_b")
    }),

    // benchmark decontamination: docs >= 5 checked for shingle overlap
    // against the "eval set" (docs 0-4)
    "x23_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contamination(
        docs.where(col("doc_id") >= 5), docs.where(col("doc_id") < 5), 0.25)
        .orderBy("doc_id")
    }),
    // the large-benchmark decontamination shape: vocabulary as rows +
    // shingle-key semi-join instead of one collect_list'd vocab array.
    // Registered against x23's oracle VERBATIM (the x48 convention) —
    // the hash gate itself proves join twin ≡ broadcast form
    "x54_contamination_join" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationJoin(
        docs.where(col("doc_id") >= 5), docs.where(col("doc_id") < 5), 0.25)
        .orderBy("doc_id")
    }),

    // filtered vector search: candidates restricted to even labels
    // BEFORE the bucket join (pre-filter semantics — true top-k among
    // matching vectors)
    "x30_ann_filtered" -> ((s, dir) =>
      VectorOps.annTopKFiltered(Tables.embeddings(s, dir), QueryVecs, 5,
        col("label") % 2 === 0)
        .orderBy("query_id", "rn")),

    // int8 quantization of the embedding corpus (4× storage cut; map-only);
    // registered in the Flat (CSV-vector) shape so the oracle harness can
    // sort/hash every column
    "x31_quantize_int8" -> ((s, dir) =>
      VectorOps.quantizeInt8Flat(Tables.embeddings(s, dir)).orderBy("vec_id")),
    // quantization integrated into search: int8 candidate scoring +
    // float rerank of a k*3 pool
    "x32_ann_quantized" -> ((s, dir) =>
      VectorOps.annTopKQuantized(Tables.embeddings(s, dir), QueryVecs, 5)
        .orderBy("query_id", "rn")),

    // --- ANN: multi-probe (x19) ------------------------------------------
    "x19_ann_multiprobe" -> ((s, dir) =>
      VectorOps.annTopKMultiProbe(Tables.embeddings(s, dir), QueryVecs, 5)
        .orderBy("query_id", "rn")),

    // --- deterministic sampling (dataset mixing) --------------------------
    "x20_hash_sample" -> ((s, dir) =>
      graft.operators.Sampling.hashSample(Tables.documents(s, dir), "doc_id", 0.25)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),
    // Efraimidis-Spirakis A-ES: the n largest u^(1/w) priorities are a
    // weighted sample without replacement — tilt toward long docs, one
    // distributed top-k pass, hash-derived (reproducible) uniforms
    "x50_weighted_sample" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
        Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars"),
        "n_chars", "doc_id", 100)
        .orderBy("doc_id")),
    "x21_stratified_sample" -> ((s, dir) =>
      graft.operators.Sampling
        .stratifiedQuota(Tables.documents(s, dir), "lang", "doc_id", 50)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),
    // dataset mixing: sample each language toward a target proportion
    // (rates derived from the per-language counts, hash-deterministic)
    "x34_mixture_sample" -> ((s, dir) =>
      graft.operators.Sampling.mixtureSample(Tables.documents(s, dir),
        "lang", "doc_id", MixWeights, 200L)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),
    // greedy "best N tokens" corpus selection: quality-ordered prefix
    // under a token budget, resolved in quality-histogram space (one
    // bounded-metadata aggregate + map-only keep; only the boundary
    // bucket pays a window) — proven equal to the oracle's global
    // prefix window
    "x52_budget_select" -> ((s, dir) =>
      graft.operators.Sampling.selectByTokenBudget(
        Tables.documents(s, dir), SelectBudget)
        .orderBy("doc_id")),
    // BM25 ranked retrieval: the lexical half of hybrid search (the
    // ANN family is the dense half) — tf/dl/df hash aggregates,
    // broadcast query batch + corpus stats, decimal-grid partial
    // scores, round-before-rank top-k per query
    "x56_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(Tables.documents(s, dir), Bm25Queries, 5)
        .orderBy("query_id", "rn")),
    // hybrid retrieval through the unified serve entry: RRF fusion of
    // the BM25 lexical list and the LSH-bucketed ANN dense list (same
    // query ids on both halves) — exact integer rank arithmetic, tiny
    // full-outer join over two top-k frames. The lexical half serves
    // from the per-snapshot tf/dl index artifact (production never
    // re-tokenizes the corpus per query batch — the x13 convention)
    "x57_hybrid_topk" -> ((s, dir) => {
      val (tf, dl) = bm25IndexFor(s, dir)
      graft.operators.HybridOps.searchFrom(
        tf, dl, Tables.embeddings(s, dir), Bm25Queries, 5,
        graft.operators.HybridOps.Rrf)
        .orderBy("query_id", "rn")
    }),
    // metadata-filtered hybrid: candidates restricted to English docs
    // on BOTH halves before each rank (pre-filter; the broadcast id
    // list lands below the bucket/scoring joins), df/N/avgdl and
    // buckets stay global — the Lucene filter-query semantics
    "x66_hybrid_filtered" -> ((s, dir) => {
      val (tf, dl) = bm25IndexFor(s, dir)
      val allowed = Tables.documents(s, dir)
        .where(col("lang") === "en").select("doc_id")
      graft.operators.HybridOps.searchFiltered(
        tf, dl, Tables.embeddings(s, dir), allowed, Bm25Queries, 5)
        .orderBy("query_id", "rn")
    }),
    // weighted-score fusion (CombSUM + per-query min-max normalization):
    // the rank-agnostic fusion policy, through the same serve entry
    "x61_hybrid_weighted" -> ((s, dir) => {
      val (tf, dl) = bm25IndexFor(s, dir)
      graft.operators.HybridOps.searchFrom(
        tf, dl, Tables.embeddings(s, dir), Bm25Queries, 5,
        graft.operators.HybridOps.Weighted())
        .orderBy("query_id", "rn")
    }),
    // product quantization: per-subspace codebooks (artifact-fed, the
    // x13 convention), map-only encoding — Dim floats -> m small ids
    // per vector, the 100 TB candidate-scan bandwidth cut
    "x58_pq_codes" -> ((s, dir) =>
      VectorOps.pqCodes(Tables.embeddings(s, dir), Some(pqBooksFor(s, dir)))
        .orderBy("vec_id", "sub")),
    // ADC search over the PQ codes: full-precision queries vs
    // code-reconstructed corpus, recall attributable to quantization
    "x59_pq_topk" -> ((s, dir) =>
      VectorOps.pqTopK(Tables.embeddings(s, dir), QueryVecs, 5,
        Some(pqBooksFor(s, dir)))
        .orderBy("query_id", "rn")),
    // the assembled production index: IVF probes prune candidate
    // COUNT, PQ codes cut candidate-scan BANDWIDTH, ADC scores the
    // survivors. Served from the CELL-PARTITIONED index artifact: the
    // probed-cell filter partition-prunes the scan to nprobe/cells of
    // the directories (proven by scan metrics in HybridRetrievalSpec),
    // and the probes attach as plan literals, with no corpus join
    "x60_ivfpq_topk" -> ((s, dir) => {
      val cents = codebookFor(s, dir)
      val books = pqBooksFor(s, dir)
      val emb = Tables.embeddings(s, dir)
      val path = ivfPqIndexFor(s, dir, cents, books, residual = false)
      val probe = VectorOps.probePlanOf(emb, QueryVecs, cents, nprobe = 2)
      val index = s.read.schema(IvfPqIndexSchema).parquet(path)
        .where(col("cell").isin(probe.cells: _*))
      VectorOps.ivfPqTopKFromIndex(index, emb, QueryVecs, 5, nprobe = 2,
        cents, books, probe = Some(probe))
        .orderBy("query_id", "rn")
    }),
    // IVFADC: residual encoding (codes quantize v − centroid(cell),
    // x̂ = centroid + r̂) — same probe-pruned artifact serve, tighter
    // reconstruction, measurably higher recall than raw-vector codes
    // through the x44 harness
    "x62_ivfpq_residual" -> ((s, dir) => {
      val cents = codebookFor(s, dir)
      val books = pqResBooksFor(s, dir)
      val emb = Tables.embeddings(s, dir)
      val path = ivfPqIndexFor(s, dir, cents, books, residual = true)
      val probe = VectorOps.probePlanOf(emb, QueryVecs, cents, nprobe = 2)
      val index = s.read.schema(IvfPqIndexSchema).parquet(path)
        .where(col("cell").isin(probe.cells: _*))
      VectorOps.ivfPqTopKFromIndex(index, emb, QueryVecs, 5, nprobe = 2,
        cents, books, residual = true, probe = Some(probe))
        .orderBy("query_id", "rn")
    }),
    // two-stage refine: ADC shortlist of r=20 from the residual index,
    // exact re-scoring of only those r·|q| survivors, final top-5 —
    // quantization's rank inversions near the cut corrected at bounded
    // lookup cost (the Jégou §V re-ranking serve shape)
    "x63_ivfpq_refine" -> ((s, dir) => {
      val cents = codebookFor(s, dir)
      val books = pqResBooksFor(s, dir)
      val emb = Tables.embeddings(s, dir)
      val path = ivfPqIndexFor(s, dir, cents, books, residual = true)
      val probe = VectorOps.probePlanOf(emb, QueryVecs, cents, nprobe = 2)
      val index = s.read.schema(IvfPqIndexSchema).parquet(path)
        .where(col("cell").isin(probe.cells: _*))
      VectorOps.ivfPqRefineTopK(index, emb, QueryVecs, 5, r = 20,
        nprobe = 2, cents, books, residual = true,
        probe = Some(probe))
        .orderBy("query_id", "rn")
    }),
    // binary quantization: sign bits pack 64 dims into ONE 8-byte long,
    // the Hamming (xor+popcount) shortlist is the cheapest first pass a
    // vector index can run, exact rerank of the r·|q| survivors
    "x64_binary_topk" -> ((s, dir) =>
      VectorOps.binaryTopK(Tables.embeddings(s, dir), QueryVecs, 5)
        .orderBy("query_id", "rn")),
    // Matryoshka-style prefix search: coarse ranking over the first 16
    // of 64 dims (4× first-pass bandwidth cut), exact full-dim rerank
    "x65_prefix_topk" -> ((s, dir) =>
      VectorOps.prefixTopK(Tables.embeddings(s, dir), QueryVecs, 5)
        .orderBy("query_id", "rn")),
    // training-shard balance report: deterministic hash shard
    // assignment + per-shard doc/token tallies (the skew check before
    // committing a shard layout) — map-only + one agg to nShards rows
    "x55_shard_stats" -> ((s, dir) =>
      graft.operators.Sampling.shardStats(
        Tables.documents(s, dir).select(col("doc_id"),
          size(TextOps.tokens(col("text"))).as("ws_tokens")),
        "doc_id", "ws_tokens", 16)
        .orderBy("shard")),
    "x35_length_deciles" -> ((s, dir) =>
      graft.operators.Sampling.lengthDeciles(
        Tables.documents(s, dir), "lang", "n_chars", "doc_id")
        .select("doc_id", "lang", "n_chars", "decile")
        .orderBy("doc_id")),
    // the whole corpus-build report in one plan: dedup → quality →
    // deterministic 50% subsample → per-language counts + token budget
    "x25_corpus_build" -> ((s, dir) =>
      Dedup.corpusBuild(Tables.documents(s, dir), DedupJaccard, 0.5)
        .orderBy("lang")),
    "x24_sequence_packing" -> ((s, dir) => {
      val withTokens = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      graft.operators.Sampling
        .packByBudget(withTokens, "lang", "doc_id", "n_tokens", PackBudget)
        .orderBy("doc_id")
    }),

    // --- multimodal ------------------------------------------------------
    "m1_media_meta" -> ((s, dir) =>
      MultimodalOps.mediaMeta(MultimodalOps.assets(Tables.documents(s, dir)))
        .orderBy("asset_id")),
    "m2_frame_sample" -> ((s, dir) =>
      MultimodalOps.frameSummary(MultimodalOps.assets(Tables.documents(s, dir)))
        .orderBy("asset_id", "frame_no")),
    // REAL decode (javax.imageio, in-JDK PNG/BMP): encode deterministic
    // images per doc, decode them back, oracle-check format/dims/pixel
    "m3_image_decode" -> ((s, dir) =>
      MultimodalOps.decodeImageMeta(s,
        MultimodalOps.imageAssets(s, Tables.documents(s, dir)))
        .toDF().orderBy("asset_id")),
    // perceptual hash over the REAL decoded raster (integer luma + 8x8
    // block means + exact cross-multiplied threshold — every bit
    // re-derived arithmetically by the oracle), and its dedup-group
    // view (one hash agg, no pair join — the image-dedup scale path)
    "m4_image_phash" -> ((s, dir) =>
      MultimodalOps.imagePHash(s,
        MultimodalOps.imageAssets(s, Tables.documents(s, dir)))
        .toDF().orderBy("asset_id")),
    // artifact-fed (the x26 convention): hashes are computed once per
    // corpus snapshot — m4 measures that build; this measures the
    // group view, which never re-decodes a byte
    "m5_phash_groups" -> ((s, dir) => {
      val ph = snapshotArtifact(dir, "documents.parquet",
        "image_phash.parquet")(
        p => MultimodalOps.imagePHash(s,
          MultimodalOps.imageAssets(s, Tables.documents(s, dir)))
          .toDF().write.mode("overwrite").parquet(p))
      MultimodalOps.phashDupGroupsFrom(s.read.parquet(ph)).orderBy("rep")
    }),
    // REAL JPEG round trip — the most common crawl image format,
    // through the SAME sniff-and-decode reader path as m3's PNG/BMP:
    // the oracle checks the parse-derived columns (format, dims);
    // pixel columns are deliberately absent (JPEG is lossy), and the
    // real decompression is spec-pinned by a quantization-tolerance
    // corner probe
    "m8_jpeg_decode" -> ((s, dir) =>
      MultimodalOps.decodeImageMeta(s,
        MultimodalOps.jpegAssets(s, Tables.documents(s, dir)))
        .toDF().select("asset_id", "format", "width", "height")
        .orderBy("asset_id")),
    // REAL audio round trip: generate RIFF/WAVE PCM bytes, parse them
    // back byte-level, integer-exact signal stats oracle-checked
    "m6_audio_features" -> ((s, dir) =>
      MultimodalOps.audioFeatures(s,
        MultimodalOps.audioAssets(s, Tables.documents(s, dir)))
        .toDF().orderBy("asset_id")),
    // audio dedup closes the modality gap with m5: fingerprints are
    // computed once per corpus snapshot (artifact-fed, the m5
    // convention); the group view is one window over the stored frame
    // and never re-parses a byte
    "m7_audio_dup_groups" -> ((s, dir) => {
      // AudioFpFrames in the key: tuning the frame count must rebuild
      // the cached fingerprints, never serve the old width (the
      // bpeRulesFor constants-in-key convention)
      val fp = snapshotArtifact(dir, "documents.parquet",
        "audio_fp.parquet", MultimodalOps.AudioFpFrames)(
        p => MultimodalOps.audioFingerprint(s,
          MultimodalOps.audioAssets(s, Tables.documents(s, dir)))
          .toDF().write.mode("overwrite").parquet(p))
      MultimodalOps.audioDupGroupsFrom(s.read.parquet(fp))
        .orderBy("asset_id")
    }),
  )

  def oracle: Map[String, String] = Map(
    "x1_exact_dedup" -> (Dedup.exactDedupSql + "\nORDER BY doc_id"),
    "x98_bloom_screen" ->
      (Dedup.ingestScreenSql("doc_id % 3 != 0",
        """  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 3 != 0 AND doc_id % 7 = 1""".stripMargin) +
        "\nORDER BY doc_id"),
    "x101_bloom_dedup" ->
      (Dedup.bloomAcceleratedDedupSql("doc_id % 3 != 0",
        """  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 3 != 0 AND doc_id % 7 = 1""".stripMargin) +
        "\nORDER BY doc_id"),
    "x100_sharded_screen" ->
      (Dedup.ingestScreenShardedSql("doc_id % 3 != 0",
        """  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 3 != 0 AND doc_id % 7 = 1""".stripMargin,
        shards = 4, mbits = 1 << 14) +
        "\nORDER BY doc_id"),
    "x103_counting_screen" ->
      (Dedup.ingestScreenCountingSql("doc_id % 3 != 0", "doc_id % 5 = 1",
        """  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 3 != 0 AND doc_id % 7 = 1""".stripMargin) +
        "\nORDER BY doc_id"),
    "x107_counting_multiplicity" ->
      (Dedup.multiplicityScreenSql(
        """  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 4 = 2
          |  UNION ALL
          |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 8 = 2""".stripMargin,
        """  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT doc_id, text || ' fresh ' || CAST(doc_id AS VARCHAR)
          |    AS text
          |  FROM documents WHERE doc_id % 3 = 1""".stripMargin,
        shards = 4, mbits = 1 << 14) +
        "\nORDER BY doc_id"),
    "x104_counting_sharded_screen" ->
      (Dedup.ingestScreenCountingShardedSql("doc_id % 3 != 0",
        "doc_id % 5 = 1",
        """  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 3 != 0 AND doc_id % 7 = 1""".stripMargin,
        shards = 4, mbits = 1 << 14) +
        "\nORDER BY doc_id"),
    "x102_bloom_rebuild_screen" ->
      (graft.streaming.StreamingBloom.generationalScreenSql(
        "doc_id % 3 = 1", "doc_id % 3 = 2",
        """  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 3 != 0 AND doc_id % 7 = 1""".stripMargin) +
        "\nORDER BY doc_id"),
    "x106_streamed_counting_screen" ->
      (graft.streaming.StreamingCountingBloom.deleteChainScreenSql(
        "doc_id % 3 = 1", "doc_id % 3 = 2",
        "doc_id % 3 = 1 AND doc_id % 5 = 1",
        "doc_id % 3 = 0 AND doc_id % 7 = 2",
        """  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 3 = 1 AND doc_id % 5 = 1
          |  UNION ALL
          |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 3 = 1 AND doc_id % 5 != 1 AND doc_id % 4 = 0
          |  UNION ALL
          |  SELECT doc_id + 3000000 AS doc_id,
          |    text || ' fresh ' || CAST(doc_id AS VARCHAR) AS text
          |  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 4 = 1""".stripMargin) +
        "\nORDER BY doc_id"),
    "x108_streamed_counting_sharded" ->
      (graft.streaming.StreamingCountingBloom.deleteChainScreenSql(
        "doc_id % 3 = 1", "doc_id % 3 = 2",
        "doc_id % 3 = 1 AND doc_id % 5 = 1",
        "doc_id % 3 = 0 AND doc_id % 7 = 2",
        """  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 3 = 1 AND doc_id % 5 = 1
          |  UNION ALL
          |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 3 = 1 AND doc_id % 5 != 1 AND doc_id % 4 = 0
          |  UNION ALL
          |  SELECT doc_id + 3000000 AS doc_id,
          |    text || ' fresh ' || CAST(doc_id AS VARCHAR) AS text
          |  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 4 = 1""".stripMargin,
        shards = 4) +
        "\nORDER BY doc_id"),
    "x2_minhash_pairs" ->
      (Dedup.nearDupPairsSql(PairJaccard) + "\nORDER BY doc_a, doc_b"),
    "x71_edit_pairs" ->
      (Dedup.editDupPairsSql(EditSim) + "\nORDER BY doc_a, doc_b"),
    "x72_doc_chunks" ->
      (TextOps.chunkDocsSql() + "\nORDER BY doc_id, chunk_id"),
    "x73_bpe_merges" ->
      (TextOps.bpeMergesSql() + "\nORDER BY rank"),
    "x74_bpe_encode" ->
      (TextOps.bpeEncodeSql() + "\nORDER BY doc_id"),
    "x75_bpe_chunks" ->
      (TextOps.bpeChunkDocsSql() + "\nORDER BY doc_id, chunk_id"),
    "x76_bpe_packing" ->
      (TextOps.bpeEncodePackSql(budget = BpePackBudget) + "\nORDER BY doc_id"),
    "x3_neardup_dedup" ->
      (Dedup.nearDupDedupSql(DedupJaccard) + "\nORDER BY doc_id"),
    "x26_dup_clusters" ->
      (Dedup.duplicateClustersSql(PairJaccard) + "\nORDER BY doc_id"),
    "x53_cluster_reps" ->
      (Dedup.clusterRepresentativesSql(PairJaccard) + "\nORDER BY cluster_id"),
    "x36_substring_dups" ->
      (Dedup.substringDupsSql() + "\nORDER BY doc_a, doc_b, a_start, b_start"),
    "x37_dup_coverage" ->
      (Dedup.substringDupStatsSql() + "\nORDER BY doc_id"),
    "x39_cross_substring" ->
      (Dedup.crossSubstringDupsSql("doc_id % 2 = 0", "doc_id % 2 = 1") +
        "\nORDER BY doc_a, doc_b, a_start, b_start"),
    "x40_substring_scrub" ->
      (Dedup.substringScrubSql() + "\nORDER BY doc_id"),
    "x42_source_drop_report" ->
      (Dedup.sourceDropReportSql(DedupJaccard) + "\nORDER BY source"),
    "x4_term_freq" -> (TextOps.termFrequenciesSql + "\nORDER BY lang, token"),
    "x5_lang_id" -> (TextOps.languageIdSql + "\nORDER BY doc_id"),
    "x33_lang_confusion" ->
      (TextOps.languageConfusionSql + "\nORDER BY lang_actual, lang_pred"),
    "x6_quality_score" -> (TextOps.qualityScoreSql + "\nORDER BY doc_id"),
    "x7_token_counts" -> (TextOps.tokenCountsSql + "\nORDER BY doc_id"),
    "x8_simhash" -> (TextOps.simHashSql + "\nORDER BY doc_id"),
    "x38_unigram_surprisal" ->
      (TextOps.unigramSurprisalSql + "\nORDER BY doc_id"),
    "x45_bigram_surprisal" ->
      (TextOps.bigramSurprisalSql + "\nORDER BY doc_id"),
    "x46_surprisal_bands" ->
      (TextOps.surprisalBandsSql() + "\nORDER BY doc_id"),
    "x9_fingerprint" -> (TextOps.fingerprintSql + "\nORDER BY doc_id"),
    "x10_cosine_topk" ->
      (VectorOps.cosineTopKSql(QueryVecs, 10) + "\nORDER BY query_id, rn"),
    "x83_multivector_topk" ->
      (VectorOps.multiVectorTopKSql(QueryVecs, 5) + "\nORDER BY query_id, rn"),
    "x85_chunk_ivfpq" ->
      (VectorOps.chunkIvfPqMaxSimSql(QueryVecs, 5, nprobe = 2) +
        "\nORDER BY query_id, rn"),
    "x87_chunk_refine" ->
      (VectorOps.chunkIvfPqMaxSimSql(QueryVecs, 5, nprobe = 2,
        refine = Some(20)) +
        "\nORDER BY query_id, rn"),
    "x84_chunk_hybrid" ->
      (graft.operators.HybridOps.chunkHybridTopKSql(Bm25Queries, 5) +
        "\nORDER BY query_id, rn"),
    "x11_ann_topk" ->
      (VectorOps.annTopKSql(QueryVecs, 5) + "\nORDER BY query_id, rn"),
    "x12_embedding_neardup" ->
      (VectorOps.embeddingNearDupsSql(MinCosine) + "\nORDER BY vec_a, vec_b"),
    "x43_semantic_dedup" ->
      (VectorOps.semanticDedupSql(MinCosine) + "\nORDER BY vec_id"),
    "x49_winnow_pairs" ->
      (Dedup.winnowPairsSql() + "\nORDER BY doc_a, doc_b"),
    "x47_cross_embedding_pairs" ->
      (VectorOps.crossEmbeddingNearDupsSql(
        "vec_id % 2 = 1", "vec_id % 2 = 0", MinCosine) +
        "\nORDER BY vec_a, vec_b"),
    // deliberately x43's oracle verbatim: the incremental path must be
    // indistinguishable from the batch run
    "x48_semantic_dedup_inc" ->
      (VectorOps.semanticDedupSql(MinCosine) + "\nORDER BY vec_id"),
    "x13_ivf_topk" ->
      (VectorOps.ivfTopKSql(QueryVecs, 5, nprobe = 2) + "\nORDER BY query_id, rn"),
    "x41_ivf_cell_stats" ->
      (VectorOps.ivfCellStatsSql() + "\nORDER BY cell"),
    "x44_ann_recall" ->
      (VectorOps.annRecallSql(QueryVecs, 5) + "\nORDER BY method, query_id"),
    "x14_top_tokens" ->
      s"""WITH tok AS (SELECT lang, unnest(${TextOps.tokensSql("text")}) AS token FROM documents),
         |tf AS (SELECT lang, token, count(*) AS n FROM tok GROUP BY lang, token),
         |ranked AS (
         |  SELECT lang, token, n,
         |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
         |  FROM tf QUALIFY rank <= 5
         |)
         |SELECT lang, rank, token, n FROM ranked
         |ORDER BY lang, rank""".stripMargin,
    "x15_quality_filter" -> (TextOps.qualityFilterSql() + "\nORDER BY doc_id"),
    // exact heavy set + literal TRUE: the Spark side's booleans ARE the
    // sketch-guarantee assertions
    "x51_heavy_hitters" ->
      s"""WITH tok AS (
         |  SELECT lang, unnest(${TextOps.tokensSql("text")}) AS token FROM documents
         |), n AS (
         |  SELECT lang, count(*) AS n_tokens FROM tok GROUP BY lang
         |), c AS (
         |  SELECT lang, token, count(*) AS c FROM tok GROUP BY lang, token
         |)
         |SELECT c.lang, c.token, c.c, TRUE AS covered_bounded
         |FROM c JOIN n USING (lang)
         |WHERE c.c * ${HeavyHittersK + 1} > n.n_tokens
         |ORDER BY lang, token""".stripMargin,
    "x27_repetition_filter" ->
      (TextOps.repetitionMetricsSql() + "\nORDER BY doc_id"),
    "x28_tfidf_top_terms" ->
      (TextOps.tfIdfTopTermsSql() + "\nORDER BY doc_id, rank"),
    "x29_pii_scrub" ->
      (TextOps.piiScrubSql("concat(text, ' contact user', doc_id, " +
        "'@example.com from 10.0.', doc_id % 255, '.', doc_id % 7, " +
        "' ref 4111111111111111')") + "\nORDER BY doc_id"),
    "x16_curation_pipeline" ->
      (Dedup.curationPipelineSql(DedupJaccard) + "\nORDER BY lang"),
    // artifact reuse changes the physical plan, never the result: the
    // oracle is x16's, verbatim
    "x18_curation_from_sigs" ->
      (Dedup.curationPipelineSql(DedupJaccard) + "\nORDER BY lang"),
    "x22_cross_corpus_pairs" ->
      (Dedup.crossCorpusPairsSql("doc_id % 2 = 0", "doc_id % 2 = 1", PairJaccard) +
        "\nORDER BY doc_a, doc_b"),
    "x23_contamination" ->
      (Dedup.contaminationSql("doc_id < 5", "doc_id >= 5", 0.25) +
        "\nORDER BY doc_id"),
    "x54_contamination_join" ->
      (Dedup.contaminationSql("doc_id < 5", "doc_id >= 5", 0.25) +
        "\nORDER BY doc_id"),
    "x19_ann_multiprobe" ->
      (VectorOps.annTopKMultiProbeSql(QueryVecs, 5) + "\nORDER BY query_id, rn"),
    "x30_ann_filtered" ->
      (VectorOps.annTopKFilteredSql(QueryVecs, 5, "label % 2 = 0") +
        "\nORDER BY query_id, rn"),
    "x31_quantize_int8" ->
      (VectorOps.quantizeInt8FlatSql + "\nORDER BY vec_id"),
    "x32_ann_quantized" ->
      (VectorOps.annTopKQuantizedSql(QueryVecs, 5) + "\nORDER BY query_id, rn"),
    "x20_hash_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${graft.operators.Sampling.hashSampleWhereSql("doc_id", 0.25)}
         |ORDER BY doc_id""".stripMargin,
    "x50_weighted_sample" ->
      s"""SELECT * FROM (
         |  SELECT doc_id, lang, source, n_chars,
         |    ${graft.operators.Sampling.weightedSamplePriSql("n_chars", "doc_id")}
         |  FROM documents
         |  ORDER BY pri DESC, CAST(doc_id AS VARCHAR) LIMIT 100)
         |ORDER BY doc_id""".stripMargin,
    "x21_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |${graft.operators.Sampling.stratifiedQuotaQualifySql("lang", "doc_id", 50)}
         |ORDER BY doc_id""".stripMargin,
    "x34_mixture_sample" ->
      (graft.operators.Sampling.mixtureSampleSql("lang", "doc_id", MixWeights, 200L) +
        "\nORDER BY doc_id"),
    "x35_length_deciles" ->
      s"""SELECT doc_id, lang, n_chars,
         |  ${graft.operators.Sampling.lengthDecilesSelectSql("lang", "n_chars", "doc_id")}
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x52_budget_select" ->
      (graft.operators.Sampling.selectByTokenBudgetSql(SelectBudget) +
        "\nORDER BY doc_id"),
    "x55_shard_stats" ->
      (graft.operators.Sampling.shardStatsSql("doc_id",
        s"len(${TextOps.tokensSql("text")})", 16) + "\nORDER BY shard"),
    "x81_bpe_budget_select" ->
      (TextOps.bpeBudgetSelectSql(budget = SelectBudget) +
        "\nORDER BY doc_id"),
    "x82_bpe_shard_stats" ->
      (TextOps.bpeShardStatsSql(nShards = 16) + "\nORDER BY shard"),
    "x56_bm25_topk" ->
      (TextOps.bm25TopKSql(Bm25Queries, 5) + "\nORDER BY query_id, rn"),
    "x57_hybrid_topk" ->
      (graft.operators.HybridOps.hybridTopKSql(Bm25Queries, 5) +
        "\nORDER BY query_id, rn"),
    "x61_hybrid_weighted" ->
      (graft.operators.HybridOps.hybridTopKWeightedSql(Bm25Queries, 5) +
        "\nORDER BY query_id, rn"),
    "x58_pq_codes" ->
      (VectorOps.pqCodesSql() + "\nORDER BY vec_id, sub"),
    "x59_pq_topk" ->
      (VectorOps.pqTopKSql(QueryVecs, 5) + "\nORDER BY query_id, rn"),
    "x60_ivfpq_topk" ->
      (VectorOps.ivfPqTopKSql(QueryVecs, 5, nprobe = 2) +
        "\nORDER BY query_id, rn"),
    "x62_ivfpq_residual" ->
      (VectorOps.ivfPqResidualTopKSql(QueryVecs, 5, nprobe = 2) +
        "\nORDER BY query_id, rn"),
    "x63_ivfpq_refine" ->
      (VectorOps.ivfPqRefineTopKSql(QueryVecs, 5, r = 20, nprobe = 2) +
        "\nORDER BY query_id, rn"),
    "x64_binary_topk" ->
      (VectorOps.binaryTopKSql(QueryVecs, 5) + "\nORDER BY query_id, rn"),
    "x66_hybrid_filtered" ->
      (graft.operators.HybridOps.searchFilteredSql(Bm25Queries, 5,
        "SELECT doc_id FROM documents WHERE lang = 'en'") +
        "\nORDER BY query_id, rn"),
    "x67_snapshot_search" ->
      (graft.operators.HybridOps.snapshotSearchSql(Bm25Queries, 5,
        r = VectorOps.RefineShortlist, nprobe = 2,
        cellsSql = VectorOps.adaptiveCellsSql()) +
        "\nORDER BY query_id, rn"),
    "x78_chunk_topk" ->
      (TextOps.bm25ChunkTopKSql(Bm25Queries, 5) + "\nORDER BY query_id, rn"),
    "x91_recall_curve" ->
      (VectorOps.recallCurveSql(CurveQueryIds, 5) +
        "\nORDER BY method, nprobe, r"),
    "x94_codebook_curve" ->
      (VectorOps.codebookCurveSql(CurveQueryIds, 5,
        refines = Seq(VectorOps.RefineShortlist)) +
        "\nORDER BY cells, method, nprobe, r"),
    "x95_pq_curve" ->
      (VectorOps.pqSubspacesCurveSql(CurveQueryIds, 5,
        refines = Seq(VectorOps.RefineShortlist)) +
        "\nORDER BY m, method, nprobe, r"),
    "x97_ksub_curve" ->
      (VectorOps.pqKsubCurveSql(CurveQueryIds, 5,
        refines = Seq(VectorOps.RefineShortlist)) +
        "\nORDER BY ksub, method, nprobe, r"),
    "x90_bpe_chunk_search" ->
      (graft.operators.HybridOps.bpeChunkHybridSql(Bm25Queries, 5,
        nprobe = 2) +
        "\nORDER BY query_id, rn"),
    "x68_pair_pagerank" ->
      (Dedup.pairGraphRankSql(PairJaccard) + "\nORDER BY doc_id"),
    "x69_quality_rank" ->
      (Dedup.qualityRankSql(PairJaccard) + "\nORDER BY doc_id"),
    "x65_prefix_topk" ->
      (VectorOps.prefixTopKSql(QueryVecs, 5) + "\nORDER BY query_id, rn"),
    "x25_corpus_build" ->
      (Dedup.corpusBuildSql(DedupJaccard, 0.5) + "\nORDER BY lang"),
    "x24_sequence_packing" -> {
      val t = s"len(${TextOps.tokensSql("text")})"
      s"""SELECT doc_id, lang, $t AS n_tokens,
         |  ${graft.operators.Sampling.packByBudgetSelectSql("lang", "doc_id", t, PackBudget)}
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "m1_media_meta" -> (MultimodalOps.mediaMetaSql() + "\nORDER BY asset_id"),
    "m2_frame_sample" ->
      (MultimodalOps.frameSummarySql() + "\nORDER BY asset_id, frame_no"),
    "m3_image_decode" ->
      (MultimodalOps.imageDecodeSql + "\nORDER BY asset_id"),
    "m8_jpeg_decode" ->
      (MultimodalOps.jpegDecodeSql + "\nORDER BY asset_id"),
    "m4_image_phash" ->
      (MultimodalOps.imagePHashSql + "\nORDER BY asset_id"),
    "m5_phash_groups" ->
      (MultimodalOps.phashDupGroupsSql + "\nORDER BY rep"),
    "m6_audio_features" ->
      (MultimodalOps.audioFeaturesSql + "\nORDER BY asset_id"),
    "m7_audio_dup_groups" ->
      (MultimodalOps.audioDupGroupsSql + "\nORDER BY asset_id"),
    "x17_minhash_signatures" ->
      (Dedup.minHashSignaturesSql + "\nORDER BY doc_id"),
  )
}
