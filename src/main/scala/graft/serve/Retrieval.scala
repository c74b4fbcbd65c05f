package graft.serve

import graft.operators.{HybridOps, TextOps, VectorOps}
import graft.sync.NioLocalFileSystem
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One-handle hybrid retrieval over a corpus snapshot — the serve
  * surface over what the sync publishes, behind `build`/`load`/`search`
  * instead of hand-wired frames.
  *
  * The reference's whole job is feeding documents INTO a search service
  * (reference: flows/main_flow.py:528-563 bulk-indexes and never reads
  * back); this is the Spark-native answer to the half the reference
  * outsources. A snapshot directory holds exactly what [[search]]
  * reads:
  *
  *  - `codebook.txt` / `pqbooks.txt` — the coarse IVF codebook and the
  *    residual PQ books, doubles as raw IEEE-754 bits (bit-identical
  *    round trip, the registry-artifact convention);
  *  - `index/` — the residual IVFADC frame `(vec_id, codes, cell)`
  *    written `partitionBy(cell)`, so a probed serve read
  *    PARTITION-PRUNES to ~nprobe/cells of the files;
  *  - `emb/` — the float column `(vec_id, embedding)`, read only for
  *    query-vector lookup and the bounded exact rerank (never scanned
  *    as stage 1);
  *  - `tf/` / `dl/` — the lexical index frames BM25 serves from.
  *
  * `emb`, `tf` and `dl` are written unpartitioned: no serve read
  * filters on a partition of them, so partition directories would only
  * add files to list.
  *
  * Publish is atomic: everything stages into a sibling tmp directory
  * and a rename-aside swap commits it (the [[graft.sync.IndexStore]]
  * alias-swap convention) — live → `dir.old-<nonce>`, staged → live,
  * delete the aside. A crashed build leaves a COMPLETE snapshot under
  * some name, never a half-written or half-deleted one; `load` renames
  * a stranded aside back into place if the crash hit the swap window.
  *
  * Serving composes the engine's audited halves verbatim —
  * [[TextOps.bm25TopKFrom]], [[VectorOps.ivfPqRefineTopK]] over the
  * pruned index read, [[HybridOps.fuse]] — so every scale shape and
  * determinism contract documented on those operators holds unchanged
  * here, and a snapshot serve is equivalence-testable against the
  * in-memory builds.
  *
  * A search's cost is fixed per Spark job, not per byte (8 queries
  * read ~0.3 MB), so a search runs exactly 5 jobs: the query terms' df
  * collect, the query-vector collect the probe ranking needs, the `dl`
  * and refine-shortlist broadcasts, and the fused result. Everything
  * else the driver already holds enters the plans as literals — the
  * probe rows and query vectors ([[VectorOps.ProbePlan]]), df, and
  * BM25's N/avgdl, which this handle computes once per `load`
  * ([[corpus]]: a published snapshot never changes) — and the
  * residual decode runs in the native [[graft.functions.PqDecode]]
  * kernel over primitive codebooks. */
final class Retrieval private[serve] (spark: SparkSession, dir: String,
    val cents: Seq[Seq[Double]], val books: Seq[Seq[Seq[Double]]]) {

  /** Serve-tuned session, shared per SparkContext (see [[Retrieval
    * .serveSessionFor]] for the tuning rationale). Index BUILD work
    * stays on the caller's session, wide and adaptive as batch work
    * should be. */
  private lazy val serve: SparkSession = Retrieval.serveSessionFor(spark)

  // `lazy val` + explicit schema, not `def` + inference: a serve handle
  // is long-lived, and each `spark.read.parquet` otherwise re-lists the
  // directory and re-reads parquet footers — fixed per-query latency.
  // One relation per frame per handle resolves once.
  private lazy val emb = serve.read
    .schema(Retrieval.EmbSchema).parquet(s"$dir/emb")
  private lazy val tf = serve.read
    .schema(Retrieval.TfSchema).parquet(s"$dir/tf")
  private lazy val dl = serve.read
    .schema(Retrieval.DlSchema).parquet(s"$dir/dl")
  private lazy val index = serve.read
    .schema(Retrieval.IndexSchema).parquet(s"$dir/index")

  /** BM25's corpus constants (N, avgdl) of this snapshot, computed once
    * per handle: a published snapshot never changes (a rebuild
    * publishes a new directory that a fresh `load` reads), so every
    * search reuses them instead of aggregating `dl` again. */
  private[graft] val corpus: TextOps.Bm25Corpus = TextOps.bm25CorpusOf(dl)

  /** Dense top-k from the stored index: one query-vector collect and
    * the driver probe ranking → the probed-cell filter prunes the
    * partitioned index read → residual ADC on survivors (probes and
    * query vectors attach as plan literals) → exact rerank of the
    * refine shortlist against the float column (bounded lookups, not a
    * scan). The knobs are the
    * x91-curve-justified pair ([[VectorOps.RefineShortlist]]'s scaladoc
    * has the measured numbers): nprobe=2 because probe widening buys
    * little recall per doubling of scan cost, r=40 because the refine
    * shortlist is the strong knob at bounded float reads. */
  def denseTopK(queryIds: Seq[Long], k: Int): DataFrame = {
    val probe = VectorOps.probePlanOf(emb, queryIds, cents, Retrieval.Nprobe)
    VectorOps.ivfPqRefineTopK(
      index.where(col("cell").isin(probe.cells: _*)),
      emb, queryIds, k, VectorOps.RefineShortlist, Retrieval.Nprobe,
      cents, books, residual = true, probe = Some(probe))
  }

  /** Lexical top-k from the stored tf/dl frames through the same
    * scoring chain the batch build uses; the query terms' df is one
    * collect per call, N/avgdl are the handle's [[corpus]]. */
  def lexicalTopK(queries: Seq[(Long, Seq[String])], k: Int): DataFrame =
    TextOps.bm25TopKFrom(tf, dl, queries, k, corpus = Some(corpus))

  /** THE entry: both halves from the stored artifacts, fused under the
    * policy (each query id doubles as its query vector's vec_id — the
    * shared-id hybrid layout). */
  def search(queries: Seq[(Long, Seq[String])], k: Int,
      policy: HybridOps.Fusion = HybridOps.Rrf): DataFrame = {
    def dense = denseTopK(queries.map(_._1), k)
      .withColumnRenamed("vec_id", "doc_id")
    policy match {
      case HybridOps.LexicalOnly => lexicalTopK(queries, k)
      case HybridOps.DenseOnly => dense
      case p => HybridOps.fuse(lexicalTopK(queries, k), dense, k, p)
    }
  }
}

object Retrieval {

  /** Probe width of the dense half — see [[Retrieval!.denseTopK]]. */
  private val Nprobe = 2

  /** Explicit read schema so the `cell` PARTITION column keeps its
    * written BIGINT type (inference would narrow it to INT and put the
    * pruning filter's long literals behind a cast). */
  private[graft] val IndexSchema = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT"

  /** Explicit read schemas for the id-keyed frames — skipping footer
    * inference on every handle. */
  private val EmbSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>"
  private val TfSchema = "doc_id BIGINT, token STRING, tf BIGINT"
  private val DlSchema = "doc_id BIGINT, dl BIGINT"

  /** Shuffle width of the serve session — serve exchanges move
    * shortlists (≤ |queries| · refine rows), so a handful of tasks is
    * the right width. */
  private val ServeShufflePartitions = 8

  /** ONE serve-tuned child session per SparkContext, shared by every
    * handle on that context: same cluster and artifacts, its own
    * SQLConf. A serve query's working set is bounded (≤ |queries| ·
    * refine rows past the pruned scans), so the batch session's wide
    * exchanges are pure scheduling overhead here: AQE materializes
    * every exchange as its own stage-job, each paying the fixed
    * per-job cost that dominates a search's wall time, and 32-task
    * shuffles move a few hundred rows. AQE off + a narrow shuffle keeps
    * every exchange inside the job that consumes it (conf changes
    * execution staging only, never values). Keyed by context identity
    * (SparkContext does not override equals), so a restarted context
    * gets a fresh session instead of a handle executing on a stopped
    * one; UDFs register once per created session, not once per handle. */
  private val serveSessions = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, SparkSession]()
  private def serveSessionFor(spark: SparkSession): SparkSession = {
    // evict sessions of stopped contexts on the way in — a context-
    // cycling JVM must not pin dead SparkContext object graphs forever
    // (the PipelinePack.retrievalFor handle-cache convention)
    serveSessions.keySet.removeIf(_.isStopped)
    serveSessions.computeIfAbsent(spark.sparkContext, { _ =>
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.shuffle.partitions",
        ServeShufflePartitions.toString)
      // let the scan pack the snapshot's small files instead of fanning
      // every read to one task per core (the default minPartitionNum =
      // defaultParallelism): a pruned serve read is a few MB, not a
      // corpus scan
      s.conf.set("spark.sql.files.minPartitionNum", "1")
      graft.functions.VectorFunctions.register(s)
      // the serve towers are exactly the shape RankTowerFusion plans
      // through one exchange (and its co-partition relaxation lets the
      // fusion join reuse the towers' hash(query_id) partitioning)
      graft.plans.RankTowerFusion.install(s)
      s
    })
  }

  /** On-disk snapshot layout version — a cache-key component for
    * anything that keys cached snapshots by fixture identity, so a
    * layout change invalidates stale caches. Bump it whenever the set
    * or shape of the published frames changes. */
  val LayoutVersion = 7

  private def writeBooks(path: java.nio.file.Path,
      rows: Seq[Seq[Double]]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      rows.map(_.map(java.lang.Double.doubleToLongBits).mkString(","))
        .mkString("\n"))
    ()
  }

  private def readBooks(path: java.nio.file.Path): List[Seq[Double]] =
    java.nio.file.Files.readString(path).split("\n").toList
      .map(_.split(",").toSeq
        .map(b => java.lang.Double.longBitsToDouble(b.toLong)))

  /** Train, encode, and publish the snapshot, then return the loaded
    * handle. Training cost is the documented once-per-snapshot work
    * ([[VectorOps.trainedCentroids]] + [[VectorOps
    * .pqResidualCodebooks]]); encoding and the lexical aggregates are
    * single corpus passes. Atomic: stage + rename-aside swap.
    *
    * The coarse codebook is sized from the CORPUS COUNT
    * ([[VectorOps.adaptiveCells]] — cells ≈ √n, the shape the x94
    * codebook curve measured), so a build gets the scale-right cell
    * count without a knob; the trained count persists with the
    * codebook (`codebook.txt`'s rows) and every loaded handle serves
    * under it. */
  def build(docs: DataFrame, embeddings: DataFrame, dir: String): Retrieval = {
    val spark = docs.sparkSession
    val staged = new java.io.File(s"$dir.tmp-${System.nanoTime()}")
    val cents = VectorOps.trainedCentroids(embeddings,
      VectorOps.adaptiveCells(embeddings.count()))
    val books = VectorOps.pqResidualCodebooks(embeddings, cents)
    writeBooks(staged.toPath.resolve("codebook.txt"), cents)
    writeBooks(staged.toPath.resolve("pqbooks.txt"), books.flatten)
    NioLocalFileSystem.parquet(VectorOps.ivfPqIndex(embeddings, cents, books, residual = true)
      .write.partitionBy("cell").mode(SaveMode.Overwrite), s"$staged/index")
    NioLocalFileSystem.parquet(embeddings.select("vec_id", "embedding")
      .write.mode(SaveMode.Overwrite), s"$staged/emb")
    val (tf, dl) = TextOps.bm25Stats(docs)
    NioLocalFileSystem.parquet(tf.write.mode(SaveMode.Overwrite), s"$staged/tf")
    NioLocalFileSystem.parquet(dl.write.mode(SaveMode.Overwrite), s"$staged/dl")
    publish(staged, dir)
    load(spark, dir)
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** Commit a fully-staged snapshot directory as `dir` by rename-aside
    * swap: live → `dir.old-<nonce>`, staged → live, delete the aside.
    * At NO point does a partially-deleted directory exist under any
    * name — every named directory is a complete snapshot — so a crash
    * anywhere leaves either the new snapshot live, or the old one live,
    * or (crash exactly between the two renames) the old one complete
    * under its aside name, which [[load]] recovers by renaming back.
    * The earlier delete-then-rename sequence could crash mid-recursive-
    * delete and leave `codebook.txt` alive over a truncated `index/` —
    * a corrupt state `load` would accept.
    *
    * `betweenRenames` is a test seam: the crash-injection spec throws
    * from it to simulate dying in the swap window. */
  private[graft] def publish(staged: java.io.File, dir: String,
      betweenRenames: () => Unit = () => ()): Unit = {
    val target = new java.io.File(dir)
    val aside = new java.io.File(s"$dir.old-${System.nanoTime()}")
    val hadOld = target.exists() && target.renameTo(aside)
    betweenRenames()
    if (!staged.renameTo(target)) {
      // lost a concurrent publish race: the winner's snapshot is
      // already at `dir` — serve theirs, drop ours (training is
      // deterministic, so the artifacts are identical anyway)
      require(new java.io.File(target, "codebook.txt").exists(),
        s"snapshot publish failed: could not rename $staged to $dir " +
          "and no published snapshot exists there")
      rm(staged)
    }
    if (hadOld) rm(aside)
    // sweep asides orphaned by a crash after a past swap completed but
    // before its delete ran (the live snapshot supersedes them all)
    asidesOf(dir).foreach(rm)
  }

  /** `dir.old-<nonce>` siblings, oldest first. */
  private def asidesOf(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir).getAbsoluteFile
    val prefix = f.getName + ".old-"
    Option(f.getParentFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith(prefix))
      .sortBy(_.getName.stripPrefix(prefix).toLong).toSeq
  }

  /** Recovery for a crash inside [[publish]]'s swap window: if no live
    * snapshot exists but a complete aside does, rename the newest aside
    * back into place. A concurrent finished publish wins the rename
    * race harmlessly (the aside rename fails, the live dir serves). */
  private def recoverAside(dir: String): Unit =
    asidesOf(dir)
      .filter(a => new java.io.File(a, "codebook.txt").exists())
      .lastOption.foreach { a => a.renameTo(new java.io.File(dir)); () }

  /** Load a published snapshot's handle (codebooks round-trip through
    * raw bits, so a loaded handle serves bit-identically to the one
    * `build` returned). */
  def load(spark: SparkSession, dir: String): Retrieval = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root.resolve("codebook.txt")))
      recoverAside(dir)
    require(java.nio.file.Files.exists(root.resolve("codebook.txt")),
      s"$dir is not a published retrieval snapshot")
    val cents = readBooks(root.resolve("codebook.txt"))
    val books = readBooks(root.resolve("pqbooks.txt"))
      .grouped(VectorOps.PqSubCentroids).toList
      .map(_.toSeq)
    new Retrieval(spark, dir, cents, books)
  }
}
