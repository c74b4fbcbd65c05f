package graft

import graft.operators.{Dedup, IndexerOps, Relational, VectorOps}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that decide whether a query
  * survives a 100× scale-up — filter pushdown into the parquet scan,
  * column pruning, broadcast choices, codegen'd native expressions.
  * Correctness specs can't see these; a regression here is a silent
  * 100 TB performance bug. */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Scan-shape tests read sf0.01: other suites `cache()` the sf0.001
    * relations, and a cache hit replaces the parquet scan (and its
    * PushedFilters) with an InMemoryTableScan. */
  private val psf = "/root/testdata/sf0.01"

  test("S1 full-sync scan pushes IN-list + tombstone filters into the parquet scan") {
    val plan = formatted(IndexerOps.fullSyncScan(
      Tables.envelope(spark, psf), Seq("click", "view")))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("In(event_type"), s"IN-list not pushed:\n$plan")
    // tombstone predicate (event_type = 'error' derived) also reaches the scan
    assert(plan.contains("IsNotNull(event_type)"), plan)
  }

  test("S2 incremental scan pushes the watermark range predicate") {
    val plan = formatted(IndexerOps.incrementalScan(
      Tables.envelope(spark, psf), Seq("click"), "2024-01-15 00:00:00"))
    assert(plan.contains("GreaterThanOrEqual(ts"), s"watermark not pushed:\n$plan")
  }

  test("watermark pushdown never harvests a bound from inside an OR disjunct") {
    import org.apache.spark.sql.functions._
    val w = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val env = Tables.envelope(spark, psf)
    val orFiltered = env.filter(
      col(Tables.Idx) === "click" || col(Tables.UpdatedAt) >= lit(w))
    // no implied ts bound may be ADDED as a conjunct: `click OR ts>=W`
    // admits clicks from before W. (Spark itself pushing the whole OR
    // disjunction into the scan is sound and expected on the µs-flavor
    // fixture — the unsound shape is a harvested `AND (ts >= W)` beside
    // the original filter, which the nanos-flavor rule must never emit.)
    val plan = formatted(orFiltered)
    val condLines = plan.linesIterator.filter(_.contains("Condition :")).toSeq
    assert(condLines.nonEmpty, s"no Filter in plan:\n$plan")
    assert(!condLines.exists(_.contains(" AND ")),
      s"OR-branch watermark harvested into a conjunct:\n$plan")
    // ...and the SCAN must not carry a harvested bound either: pushing
    // the whole Or() is sound, but a bare top-level ts lower bound in
    // PushedFilters (outside any Or) silently drops pre-W clicks at the
    // row-group level even when the Filter node above looks correct.
    // Top-level entries of the [..] list are split at bracket depth 0.
    for (pf <- plan.linesIterator.filter(_.contains("PushedFilters"))) {
      val inner = pf.substring(pf.indexOf('[') + 1,
        math.max(pf.indexOf('[') + 1, pf.lastIndexOf(']')))
      val top = scala.collection.mutable.Buffer.empty[String]
      var depth = 0; val sb = new StringBuilder
      for (c <- inner) c match {
        case ',' if depth == 0 => top += sb.toString.trim; sb.clear()
        case _ =>
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          sb += c
      }
      if (sb.nonEmpty) top += sb.toString.trim
      val bare = top.filter(e => e.startsWith("GreaterThanOrEqual(ts") ||
        e.startsWith("GreaterThan(ts"))
      assert(bare.isEmpty,
        s"bare ts lower bound harvested into PushedFilters: $bare\n$plan")
    }
    // correctness oracle: disjunction == clicks + non-click rows after W
    val clicks = env.filter(col(Tables.Idx) === "click").count()
    val clicksBeforeW =
      env.filter(col(Tables.Idx) === "click" && col(Tables.UpdatedAt) < lit(w)).count()
    assert(clicksBeforeW > 0, "fixture has no pre-watermark clicks; test is vacuous")
    val otherAfterW =
      env.filter(col(Tables.Idx) =!= "click" && col(Tables.UpdatedAt) >= lit(w)).count()
    assert(orFiltered.count() === clicks + otherAfterW)
  }

  test("bm25/hybrid: corpus is tokenized exactly once, query batch broadcasts, fusion never products") {
    import graft.operators.{HybridOps, TextOps}
    val qs = Seq(0L -> Seq("spark", "join"), 1L -> Seq("vector", "table"))
    // tf is consumed three times (scoring join, dl, df); it is
    // MATERIALIZED in bm25Stats, so the serve plan must contain ZERO
    // documents scans — a scan here means a consumer re-tokenizes the
    // corpus (AQE's runtime stage reuse recovered only one of the three
    // subtree copies when measured, hence the structural fix)
    val lexPlan = TextOps.bm25TopK(Tables.documents(spark, psf), qs, 5)
      .queryExecution.executedPlan.toString
    assert(!lexPlan.contains("documents.parquet"),
      s"serve plan re-reads the corpus — tf not materialized:\n$lexPlan")
    // the fixed query-term batch reaches the index via broadcast, never
    // by shuffling the index for it
    assert(lexPlan.contains("BroadcastHashJoin"),
      s"query batch not broadcast:\n$lexPlan")
    // fusion equi-joins two <= k*|q|-row frames on (query_id, doc_id);
    // no cartesian anywhere, and the full-outer fuse is a keyed join.
    // (One BroadcastNestedLoopJoin IS expected and correct: attaching
    // the 1-row corpus-stats frame via crossJoin(broadcast(stats)).)
    val fusedPlan = HybridOps.hybridTopK(Tables.documents(spark, psf),
      Tables.embeddings(spark, psf), qs, 5)
      .queryExecution.executedPlan.toString
    assert(!fusedPlan.contains("CartesianProduct"),
      s"cartesian in hybrid plan:\n$fusedPlan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*FullOuter".r
      .findFirstIn(fusedPlan).nonEmpty,
      s"RRF fuse is not a keyed full-outer join:\n$fusedPlan")
  }

  test("BPE chunk serve (x90's shape): token prune reaches the stored postings, probed cells prune the bpe chunk index") {
    import graft.operators.{HybridOps, TextOps}
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-planbpe")
      .toString
    val docs = Tables.documents(spark, psf).where(col("doc_id") < 200)
      .select("doc_id", "text")
    val emb = Tables.embeddings(spark, psf).where(col("vec_id") < 200)
      .select("vec_id", "embedding")
    val rules = TextOps.bpeMerges(docs).orderBy("rank").select("lhs", "rhs")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val (ctf, cdl) = TextOps.bpeChunkBm25Stats(docs, rules)
    ctf.write.parquet(s"$root/bpe_ctf")
    cdl.write.parquet(s"$root/bpe_cdl")
    val cents = VectorOps.trainedCentroids(emb)
    val books = VectorOps.pqResidualCodebooks(emb, cents)
    VectorOps.chunkIvfPqIndex(
      VectorOps.chunkEmbeddingsFrom(TextOps.bpeChunkIds(docs, rules), emb),
      cents, books)
      .write.partitionBy("cell").parquet(s"$root/bpe_cindex")
    val bq = Seq(0L -> Seq("spark", "join"), 1L -> Seq("vector", "table"))
      .map { case (id, ts) => id -> TextOps.bpeEncodeTerms(ts, rules) }
    val fused = HybridOps.chunkHybridTopKFrom(
      spark.read.parquet(s"$root/bpe_ctf"),
      spark.read.parquet(s"$root/bpe_cdl"),
      spark.read.schema(graft.serve.Retrieval.IndexSchema)
        .parquet(s"$root/bpe_cindex"),
      emb, bq, 5, cents, books)
      .queryExecution.executedPlan.toString
    // same contract as the whitespace chunk serve: SYMBOL postings
    // fetched by pushed IN-filter, chunk-code read pruned to the
    // probed cells, keyed fusion, no cartesian
    assert(!fused.contains("CartesianProduct"), s"cartesian:\n$fused")
    assert(fused.contains("In(token"),
      s"symbol prune not pushed into the stored bpe postings:\n$fused")
    assert(fused.contains("bpe_cindex"),
      s"serve does not read the stored bpe chunk index:\n$fused")
    assert("cell#\\d+L? IN ".r.findFirstIn(fused).nonEmpty ||
      fused.contains("cell IN ("),
      s"probed-cell filter must prune the bpe_cindex read:\n$fused")
  }

  test("BPE-scored selection frame is ONE map-only projection: no join, no exchange") {
    import graft.operators.TextOps
    val docs = Tables.documents(spark, psf).select("doc_id", "text")
    val rules = TextOps.bpeMerges(docs).orderBy("rank").select("lhs", "rhs")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // count and quality both derive from the same text: the scored
    // frame must be a single scan with zero joins — the two-map-joined
    // alternative shuffles the corpus twice for nothing
    val plan = formatted(TextOps.bpeQualityScored(docs, rules))
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"x81's scored frame must be one map-only projection:\n$plan")
  }

  test("PQ encoding is map-only: literal-codebook folds, no join, no shuffle, no window") {
    val emb = Tables.embeddings(spark, psf)
    val books = VectorOps.pqTrainedCodebooks(emb)
    val plan = formatted(VectorOps.pqCodesWide(emb, books))
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("Window"),
      s"PQ encode must be one map-only scan at any corpus size:\n$plan")
  }

  test("ivf+pq serve: the literal probe attach prunes cells BELOW the corpus code join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
    val emb = Tables.embeddings(spark, psf)
    val df = VectorOps.ivfPqTopK(emb, Seq(0L, 1L), 5, 2)
    val opt = df.queryExecution.optimizedPlan
    def keys(j: Join): Set[String] =
      j.condition.toSeq.flatMap(_.references.map(_.name)).toSet
    val joins = opt.collect { case j: Join => j }
    // the serve plan has exactly one join, ⋈recon (score); the probes
    // attach as a literal-map explode (a Generate), not a join. The
    // attach must execute FIRST — i.e. sit INSIDE the vec_id join's
    // subtree — so the corpus-sized code frame only ever joins the
    // ~nprobe/cells surviving fraction. The reverse order shuffles both
    // corpus index frames in full per query batch.
    assert(joins.size == 1 && keys(joins.head).contains("vec_id"),
      s"expected one join, on vec_id:\n$opt")
    val probeBelow = joins.head.children.exists(_.collect {
      case g: Generate => g
    }.nonEmpty)
    assert(probeBelow,
      s"probe attach is not below the corpus code join — corpus-wide join before pruning:\n$opt")
  }

  test("column pruning: a two-column projection reads only those columns") {
    val df = Tables.lineitem(spark, psf).select("l_orderkey", "l_quantity")
    val plan = formatted(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), plan)
    assert(!readSchema.contains("l_extendedprice"),
      s"unprojected column read:\n$readSchema")
  }

  test("h5 region revenue: dimension chain broadcasts, fact join shuffles once") {
    val plan = formatted(Relational.regionRevenue(
      Tables.region(spark, sf), Tables.nation(spark, sf), Tables.customer(spark, sf),
      Tables.orders(spark, sf), Tables.lineitem(spark, sf), "ASIA"))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected region/nation/customer broadcasts, got $broadcasts:\n$plan")
  }

  test("MinHash LSH candidate join is an equi-join, never a nested loop") {
    val plan = formatted(Dedup.nearDupPairs(Tables.documents(spark, sf), 0.5))
    assert(!plan.contains("NestedLoop"), s"all-pairs nested loop in LSH plan:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("substring dedup: anchor candidate join is an equi-join; at shuffle-join scale the anchor exchange is paid once") {
    // psf: PipelineSpec cache()s the sf0.001 documents — a cache hit swaps
    // the scan for InMemoryTableScan and defeats exchange reuse
    val plan = formatted(Dedup.substringDups(Tables.documents(spark, psf)))
    assert(!plan.contains("NestedLoop"), s"all-pairs nested loop in anchor plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    // at corpus scale the surviving-anchor frame exceeds the broadcast
    // threshold and the candidate join becomes a shuffle join — simulate
    // that (threshold off) and prove the self-join's two identical sides
    // REUSE one exchange over the checkpointed anchor frame, so the
    // survivors are shuffled once, not twice
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = Dedup.substringDups(Tables.documents(spark, psf))
      df.collect()
      val executed = df.queryExecution.executedPlan.toString
      assert(executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
        s"cap window and candidate join did not share the anchor exchange:\n$executed")
    } finally spark.conf.set(key, prev)
  }

  test("cosine top-k broadcasts the query side and uses the native expression") {
    val df = VectorOps.cosineTopK(Tables.embeddings(spark, sf), Seq(0L, 1L), 5)
    val plan = formatted(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side not broadcast:\n$plan")
    assert(plan.contains("graft_cosine"), s"native expression not in plan:\n$plan")
  }

  test("action routing is a single map-only codegen stage (no exchange)") {
    val plan = formatted(IndexerOps.actionRouting(Tables.envelope(spark, sf), "t"))
    assert(!plan.contains("Exchange"), s"unexpected shuffle in a projection:\n$plan")
    assert(plan.contains("codegen id"), s"projection not codegen'd:\n$plan")
  }

  test("text per-row analyses are map-only (no exchange)") {
    import graft.operators.TextOps
    for (q <- Seq(
        TextOps.qualityScore(Tables.documents(spark, sf)),
        TextOps.simHash(Tables.documents(spark, sf)),
        TextOps.fingerprint(Tables.documents(spark, sf)),
        TextOps.languageId(Tables.documents(spark, sf)))) {
      val plan = formatted(q)
      assert(!plan.contains("Exchange"), s"per-row analysis shuffles:\n$plan")
    }
  }

  test("quality filter is map-only: no shuffle, no window, for any doc size") {
    import graft.operators.TextOps
    val plan = formatted(TextOps.qualityFilter(Tables.documents(spark, sf)))
    assert(!plan.contains("Exchange"), s"quality filter shuffles:\n$plan")
    assert(!plan.contains("Window"), s"quality filter uses a window:\n$plan")
    // the top-token count runs as the fused native kernel, not an
    // interpreted HOF fold
    assert(plan.contains("graft_top_run_count"),
      s"top-run kernel missing from the quality-filter plan:\n$plan")
  }

  test("minhash signatures are one map-only kernel: no agg shuffle, single md5 pass") {
    val plan = formatted(Dedup.minHashSignatures(Tables.documents(spark, psf)))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"signature computation shuffles:\n$plan")
    // the 16 signature columns must share ONE kernel evaluation — a
    // collapsed projection would re-run md5-per-shingle 16×
    val kernels = "graft_minhash".r.findAllIn(plan).length
    assert(kernels == 1, s"expected 1 kernel eval, got $kernels:\n$plan")
    // and no Generate: the kernel replaced the 52×-row-inflating explode
    assert(!plan.contains("Generate"), s"explode crept back into the kernel path:\n$plan")
  }

  test("event enrichment broadcasts both dimensions; the fact side never shuffles for the join") {
    import graft.operators.Relational
    val plan = formatted(Relational.eventEnrichment(
      Tables.events(spark, psf), Tables.customer(spark, psf), Tables.nation(spark, psf)))
    // formatted explain mentions each node in the tree AND detail section
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"expected 2 broadcast joins, got $broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact side shuffled for a dim join:\n$plan")
  }

  test("no registered query plans a non-broadcast cartesian product") {
    // suite-wide guard: a CartesianProduct node means a join lost its
    // keys (or a broadcast fell through to a shuffled cross) — the
    // classic silent 100 TB killer. BroadcastNestedLoopJoin is allowed:
    // the vector/catalog operators deliberately cross-join tiny
    // broadcast sides.
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val plan = formatted(fn(spark, sf))
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("chunking plans map-only: no exchange, no join, one scan") {
    // the scale claim on chunkDocs is that it is pure per-doc column
    // work — a shuffle or join appearing here means the sequence
    // explode or the slice picked up a different physical shape
    val plan = formatted(graft.operators.TextOps.chunkDocs(
      graft.sources.Tables.documents(spark, psf).select("doc_id", "text")))
    assert(!plan.contains("Exchange"), s"chunking shuffles:\n$plan")
    assert(!plan.contains("Join"), s"chunking joins:\n$plan")
    // formatted explain names each node in the tree AND detail section,
    // so one physical scan appears exactly twice
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 2, s"expected one corpus scan, got ${scans / 2}:\n$plan")
  }

  test("interval join plans as an equi-join with range filter, never a nested loop") {
    import graft.operators.Analytics
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, psf)
    val plan = formatted(Analytics.intervalJoin(
      ev.where(col("event_type") === "click"),
      ev.where(col("event_type") === "purchase"), "1 HOUR"))
    assert(!plan.contains("NestedLoop"), s"interval join fell back to nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("contamination check never hash-shuffles or windows the candidate corpus") {
    val docs = Tables.documents(spark, psf)
    import org.apache.spark.sql.functions.col
    val plan = formatted(Dedup.contamination(
      docs.where(col("doc_id") >= 5), docs.where(col("doc_id") < 5), 0.25))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"contamination shuffles the corpus:\n$plan")
    assert(!plan.contains("Window"), plan)
  }

  test("repetition filter is map-only: no shuffle, no window") {
    import graft.operators.TextOps
    val plan = formatted(TextOps.repetitionMetrics(Tables.documents(spark, sf)))
    assert(!plan.contains("Exchange"), s"repetition filter shuffles:\n$plan")
    assert(!plan.contains("Window"), s"repetition filter uses a window:\n$plan")
  }

  test("pii scrub is map-only") {
    import graft.operators.TextOps
    import org.apache.spark.sql.functions.col
    val plan = formatted(TextOps.piiScrub(Tables.documents(spark, sf), col("text")))
    assert(!plan.contains("Exchange"), s"pii scrub shuffles:\n$plan")
  }

  test("as-of join is one key shuffle + window — never a join") {
    import graft.operators.Analytics
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, psf)
    val plan = formatted(Analytics.asOfJoin(
      ev.where(col("event_type") === "purchase"),
      ev.where(col("event_type") === "click")))
    // the union-tag + running-last form: the alternative equi-join +
    // max_by blows up with |left per key| × |right per key|
    assert(!plan.contains("Join"), s"as-of fell back to a join:\n$plan")
    val shuffles = "Exchange \\(\\d+\\)".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly 1 key shuffle, got $shuffles:\n$plan")
  }

  test("IVF cell assignment never windows or shuffles the corpus") {
    val plan = formatted(VectorOps.ivfCells(Tables.embeddings(spark, sf)))
    assert(!plan.contains("Window"), s"argmax via window shuffles the corpus:\n$plan")
    // the only exchanges allowed are the centroid collapse (single
    // partition over ≤NumCentroids rows) and its broadcast — never a
    // hash repartition of the corpus side
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 0, s"corpus-side hash shuffle in IVF assignment:\n$plan")
  }

  test("weighted sample plans as distributed top-k, not a global sort") {
    import graft.operators.Sampling
    val n = 100
    // the fusion below only holds while n <= topKSortFallbackThreshold
    // (default 10000) — beyond it Spark silently falls back to a global
    // range-partitioned sort; weightedSample's scaladoc tells
    // large-budget callers to raise the config
    assert(n <= spark.conf.get("spark.sql.execution.topKSortFallbackThreshold").toInt)
    val plan = formatted(Sampling.weightedSample(
      Tables.documents(spark, sf).select("doc_id", "lang", "source", "n_chars"),
      "n_chars", "doc_id", n))
    // sort+limit must fuse into TakeOrdered (per-partition heaps); a
    // Sort node means the whole corpus range-shuffles for 100 rows
    assert(plan.contains("TakeOrderedAndProject"),
      s"A-ES selection lost the top-k fusion:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort crept into the sample:\n$plan")
  }

  test("rank tower (best-per-(q,d) then top-k-per-q) fuses to ONE subset-keyed exchange") {
    import org.apache.spark.sql.functions._
    // isolated child session: the strategy is a serve/batch-session
    // install; the shared test session keeps default planning so the
    // other pinned plans stay order-independent
    val s = spark.newSession()
    graft.plans.RankTowerFusion.install(s)
    val df = s.range(200).select(
      (col("id") % 4).as("query_id"), (col("id") % 25).as("doc_id"),
      col("id").as("chunk_id"),
      ((col("id") * 37) % 101).cast("double").as("score"))
    def tower(d: org.apache.spark.sql.DataFrame) = {
      val wBest = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id", "doc_id")
        .orderBy(desc("score"), asc("chunk_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
      d.withColumn("rc", row_number().over(wBest)).where(col("rc") === 1)
        .drop("rc")
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
    }
    val plan = formatted(tower(df))
    // exactly one shuffle, keyed by the OUTER partition spec alone,
    // with the inner rank's map-side Partial group-limit BELOW it
    val shuffles = "Exchange \\(\\d+\\)".r.findAllIn(plan).length
    assert(shuffles == 1, s"tower should shuffle exactly once:\n$plan")
    assert("hashpartitioning\\(query_id#\\d+L?, \\d+\\)".r
      .findFirstIn(plan).nonEmpty,
      s"tower exchange must key on query_id only:\n$plan")
    assert(plan.contains(", 1, Partial"),
      s"map-side rank prune lost below the fused exchange:\n$plan")
    // fused results ≡ default-planned results (same session-less data,
    // planned on the shared session without the strategy)
    val dfPlain = spark.range(200).select(
      (col("id") % 4).as("query_id"), (col("id") % 25).as("doc_id"),
      col("id").as("chunk_id"),
      ((col("id") * 37) % 101).cast("double").as("score"))
    val got = tower(df).orderBy("query_id", "rn").collect().map(_.toSeq)
    val want = tower(dfPlain).orderBy("query_id", "rn").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
  }
}
