package graft

import java.sql.Timestamp
import graft.operators.{Dedup, IndexerOps, TextOps}
import graft.sources.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck properties of the sync algebra (SURVEY.md §5c): the
  * invariants the streaming/batch equivalence and the dedup pipeline
  * rest on, over GENERATED envelopes (adversarial id collisions and
  * tombstone patterns the fixtures don't contain). */
object SyncAlgebraProps extends Properties("SyncAlgebra") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each check runs real Spark jobs

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  /** Envelope rows: few indexes, colliding ids, strictly increasing
    * updated_at (latest-per-id must be well-defined). */
  private val genRows: Gen[List[(String, String, String, Boolean, Timestamp)]] =
    for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, for {
        idx <- Gen.oneOf("alpha", "beta")
        id <- Gen.choose(0, 12).map(_.toString)
        doc <- Gen.choose(0, 99).map(k => s"""{"k": $k}""")
        del <- Gen.prob(0.25)
      } yield (idx, id, doc, del))
    } yield rows.zipWithIndex.map { case ((idx, id, doc, del), i) =>
      (idx, id, doc, del, new Timestamp(1700000000000L + i * 1000L))
    }

  private def df(rows: List[(String, String, String, Boolean, Timestamp)]): DataFrame =
    rows.toDF(Idx, Id, Document, IsDeleted, UpdatedAt)

  private def state(d: DataFrame): Set[(String, String, String)] =
    d.select(Idx, Id, Document).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private val empty: DataFrame =
    Seq.empty[(String, String, String, Boolean, Timestamp)]
      .toDF(Idx, Id, Document, IsDeleted, UpdatedAt)
      .select(Idx, Id, Document, IsDeleted)

  property("splitting a batch into time-ordered sub-batches merges to the same state") =
    Prop.forAll(genRows, Gen.choose(1, 39)) { (rows, cutRaw) =>
      val cut = math.min(cutRaw, math.max(rows.length - 1, 0))
      val (first, second) = rows.splitAt(cut)
      val oneShot = IndexerOps.cdcMerge(empty, df(rows))
      val sequential = IndexerOps.cdcMerge(
        IndexerOps.cdcMerge(empty, df(first))
          .withColumn(UpdatedAt, lit(null).cast("timestamp")) // state carries no ts
          .select(Idx, Id, Document, IsDeleted),
        df(second))
      state(oneShot) == state(sequential)
    }

  property("re-applying the same batch is a no-op (idempotence)") =
    Prop.forAll(genRows) { rows =>
      rows.isEmpty || {
        val once = IndexerOps.cdcMerge(empty, df(rows))
        val twice = IndexerOps.cdcMerge(once.select(Idx, Id, Document, IsDeleted), df(rows))
        state(once) == state(twice)
      }
    }

  property("merged state never contains a tombstoned-latest id") =
    Prop.forAll(genRows) { rows =>
      val deadIds = rows.groupBy(_._2).collect {
        case (id, rs) if rs.maxBy(_._5.getTime)._4 => id
      }.toSet
      val got = IndexerOps.cdcMerge(empty, df(rows))
        .select(Id).collect().map(_.getString(0)).toSet
      got.intersect(deadIds).isEmpty
    }

  property("action routing partitions every row into exactly one op") =
    Prop.forAll(genRows) { rows =>
      rows.isEmpty || {
        val acts = IndexerOps.actionRouting(df(rows), "ts1")
        val n = acts.count()
        val dels = acts.where(col("op_type") === "delete").count()
        val ups = acts.where(col("op_type") === "index").count()
        n == rows.length && dels + ups == n &&
          dels == rows.count(_._4)
      }
    }

  property("in-place bucketed merge over any batch split equals one-shot merge") =
    Prop.forAll(genRows, Gen.choose(1, 39), Gen.oneOf(2, 4, 8)) { (rows, cutRaw, buckets) =>
      rows.isEmpty || {
        import graft.sync.{IndexStore, InPlaceMerge}
        val cut = math.min(cutRaw, math.max(rows.length - 1, 0))
        val (first, second) = rows.splitAt(cut)
        val root = java.nio.file.Files.createTempDirectory("prop-inplace").toString
        val store = new IndexStore(spark, root)
        // bootstrap empty bucketed index, then apply both slices in place
        store.writePhysicalBucketed("idx_p", df(rows).limit(0)
          .select(Idx, Id, Document, IsDeleted), Id, buckets)
        Seq(first, second).filter(_.nonEmpty).foreach { slice =>
          val affected = df(slice).agg(InPlaceMerge.affectedBuckets(store,
              Map("alpha" -> "idx_p", "beta" -> "idx_p"), lit(true), buckets))
            .head().getSeq[Long](0)
          InPlaceMerge(store, "idx_p", df(slice), buckets, affected)
        }
        // an index whose every bucket was tombstoned away has a dir but no
        // data files (hasData's documented case) — raw readPhysical can't
        // infer a schema there, so mirror the product read guard
        val got =
          if (!store.hasData("idx_p")) Set.empty[(String, String, String)]
          else state(store.readPhysical("idx_p").select(Idx, Id, Document))
        val want = state(IndexerOps.cdcMerge(empty, df(rows)))
        got == want
      }
    }

  /** Envelope rows over few ids and three instants: equal `updated_at`
    * within one id is the common case, update/delete ties included. */
  private val genTiedRows: Gen[List[(String, String, String, Boolean, Timestamp)]] =
    for {
      n <- Gen.choose(1, 30)
      rows <- Gen.listOfN(n, for {
        idx <- Gen.oneOf("alpha", "beta")
        id <- Gen.choose(0, 5).map(_.toString)
        doc <- Gen.choose(0, 9).map(k => s"""{"k": $k}""")
        del <- Gen.prob(0.3)
        t <- Gen.choose(0, 2)
      } yield (idx, id, doc, del, new Timestamp(1700000000000L + t * 1000L)))
    } yield rows

  property("latest-per-id under equal timestamps: order-free, and a tied delete wins") =
    Prop.forAll(genTiedRows, Gen.choose(0, 9)) { (rows, k) =>
      val reordered = IndexerOps.cdcMerge(empty, df(rows.reverse).repartition(3))
      // an update and a delete of one id in one transaction share now()
      val now = new Timestamp(1700000009000L)
      val pair = List(("alpha", "tied", s"""{"k": 1$k}""", false, now),
        ("alpha", "tied", s"""{"k": 0}""", true, now))
      state(IndexerOps.cdcMerge(empty, df(rows))) == state(reordered) &&
        Seq(pair, pair.reverse).forall { p =>
          !state(IndexerOps.cdcMerge(empty, df(rows ++ p))).exists(_._2 == "tied")
        }
    }

  /** A CDC history over 2-3 indexes: a bootstrap table (one live row per
    * id, every index present) and later changes with strictly increasing
    * `updated_at` over colliding ids, tombstones included. Ids carry their
    * index, so a one-shot merge over all rows is the per-index truth. */
  private val genHistory = for {
    nIdx <- Gen.choose(2, 3)
    names = List("alpha", "beta", "gamma").take(nIdx)
    bootIds <- Gen.listOfN(nIdx, Gen.choose(1, 4))
    changes <- Gen.choose(0, 30).flatMap(Gen.listOfN(_, for {
      idx <- Gen.oneOf(names)
      id <- Gen.choose(0, 6)
      doc <- Gen.choose(0, 99).map(k => s"""{"k": $k}""")
      del <- Gen.prob(0.25)
    } yield (idx, s"$idx-$id", doc, del)))
  } yield {
    val boot = names.zip(bootIds).flatMap { case (idx, m) =>
      (0 until m).map(i => (idx, s"$idx-$i", s"""{"k": -$i}""", false)) }
    def stamp(xs: List[(String, String, String, Boolean)], from: Int) =
      xs.zipWithIndex.map { case ((idx, id, doc, del), i) =>
        (idx, id, doc, del, new Timestamp(1700000000000L + (from + i) * 1000L)) }
    (names, stamp(boot, 0), stamp(changes, boot.length))
  }

  property("in-place sync over any time-ordered split of rounds equals the one-shot merge") =
    Prop.forAll(genHistory, Gen.listOf(Gen.choose(0, 30)), Gen.oneOf(2, 4, 8)) {
      case ((names, boot, changes), cutsRaw, buckets) =>
        import graft.sync.{IndexStore, SyncPipeline, WatermarkStore}
        val root = java.nio.file.Files.createTempDirectory("prop-rounds").toString
        val store = new IndexStore(spark, root)
        val pipe = new SyncPipeline(store, new WatermarkStore(root))
        pipe.fullSyncBucketed(df(boot), None, "t0", buckets)
        val cuts = (cutsRaw.take(3).map(_ % (changes.length + 1)) :+ changes.length)
          .distinct.sorted
        val roundsOk = cuts.zip(0 +: cuts).forall { case (cut, prev) =>
          val batch = changes.slice(prev, cut)
          val reports = pipe.incrementalSyncInPlace(df(boot ++ changes.take(cut)),
            None, buckets)
          val want = names.map { idx =>
            val latest = batch.filter(_._1 == idx).groupBy(_._2).values
              .map(_.maxBy(_._5.getTime))
            val dels = latest.count(_._4).toLong
            idx -> (if (latest.isEmpty) ("skipped", 0L, 0L)
              else ("incremental", latest.size - dels, dels))
          }.toMap
          reports.map(r => r.index -> (r.mode, r.upserts, r.deletes)).toMap == want
        }
        val got = names.flatMap(idx => store.read(idx).toSeq
          .flatMap(d => state(d.select(Idx, Id, Document)))).toSet
        roundsOk && got == state(IndexerOps.cdcMerge(empty, df(boot ++ changes)))
    }

  property("tolerant full sync conserves rows: live ⊎ quarantine == scan, for any poison set") =
    Prop.forAll(genRows, Gen.listOf(Gen.choose(0, 12).map(_.toString))) { (rows, poisonRaw) =>
      rows.isEmpty || {
        import graft.sync.{IndexStore, SyncPipeline, WatermarkStore}
        val poison = poisonRaw.distinct
        val root = java.nio.file.Files.createTempDirectory("prop-tol").toString
        val store = new IndexStore(spark, root)
        val valid =
          if (poison.isEmpty) lit(true) else !col(Id).isin(poison: _*)
        val pipe = new SyncPipeline(store, new WatermarkStore(root),
          validity = Some(valid))
        val env = df(rows)
        val reports = pipe.fullSync(env, None, timestamp = "p1")
        def multiset(d: DataFrame): Seq[(String, String, String)] =
          d.select(Idx, Id, Document).collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2)))
            .toSeq.sorted
        val scan = IndexerOps.fullSyncScan(env, reports.map(_.index))
        val wantLive = multiset(scan.where(valid))
        val wantQuar = multiset(scan.where(!valid))
        val gotLive = reports.flatMap(r => store.read(r.index).map(multiset))
          .flatten.sorted
        val gotQuar = reports
          .flatMap(r => store.rejected(store.aliases()(r.index)).map(multiset))
          .flatten.sorted
        gotLive == wantLive && gotQuar == wantQuar &&
          reports.map(_.rejects).sum == wantQuar.size
      }
    }

  property("exact dedup keeps one survivor per content key, the min doc_id") =
    Prop.forAll(Gen.listOfN(30, for {
      id <- Gen.choose(0L, 200L)
      text <- Gen.oneOf("aa bb cc", "dd ee ff", "aa  bb   cc", "gg hh")
    } yield (id, text))) { raw =>
      val rows = raw.distinctBy(_._1)
      rows.isEmpty || {
        val docs = rows.map { case (id, t) => (id, t, "xx", "src", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
        val out = Dedup.exactDedup(docs).select("doc_id").as[Long].collect().toSet
        // survivors = min doc_id per normalized text
        val want = rows.groupBy(r => r._2.toLowerCase.replaceAll("\\s+", " ").trim)
          .values.map(_.map(_._1).min).toSet
        out == want
      }
    }

  property("as-of join equals brute force on random event sets (incl. ts ties)") =
    Prop.forAll(
      Gen.listOfN(25, for {
        user <- Gen.choose(1L, 4L)
        ts <- Gen.choose(0L, 9L) // small range forces equal-ts ties
        side <- Gen.prob(0.5)
      } yield (user, ts, side))) { raw =>
      val events = raw.zipWithIndex.map { case ((u, t, isLeft), i) =>
        (i.toLong + 100L, u, new Timestamp(1700000000000L + t * 1000L), isLeft)
      }
      val lefts = events.filter(_._4)
      val rights = events.filterNot(_._4)
      lefts.isEmpty || {
        def df(xs: List[(Long, Long, Timestamp, Boolean)]) =
          xs.map(e => (e._1, e._2, e._3)).toDF("event_id", "user_id", "ts")
        val got = graft.operators.Analytics.asOfJoin(df(lefts), df(rights))
          .collect()
          .map(r => r.getLong(1) ->
            (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
        // the skew-safe variant must agree EXACTLY, including ties; a
        // 3-second bucket over the 10-second ts range forces carries
        // across several bucket boundaries
        val gotBucketed = graft.operators.Analytics
          .asOfJoinBucketed(df(lefts), df(rights), bucketMicros = 3000000L)
          .collect()
          .map(r => r.getLong(1) ->
            (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
        // brute force: latest right at-or-before, ties by max event_id
        val want = lefts.map { l =>
          val best = rights.filter(r => r._2 == l._2 && !r._3.after(l._3))
            .sortBy(r => (r._3.getTime, r._1)).lastOption
          l._1 -> best.map(_._1)
        }.toMap
        got == want && gotBucketed == want
      }
    }

  property("max substring extent equals brute-force longest common substring") =
    Prop.forAll(
      Gen.listOfN(30, Gen.oneOf('a', 'b', ' ')).map(_.mkString),
      Gen.listOfN(30, Gen.oneOf('a', 'b', ' ')).map(_.mkString)) { (ra, rb) =>
      def norm(s: String) = s.toLowerCase.replaceAll("[ \\t\\n\\x0B\\f\\r]+", " ").trim
      val (a, b) = (norm(ra), norm(rb))
      val A = 4
      // driver-side O(n·m) LCS DP — the oracle the distributed plan must match
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      var lcs = 0
      for (i <- 1 to a.length; j <- 1 to b.length) {
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          lcs = math.max(lcs, dp(i)(j))
        }
      }
      val ext = Dedup.substringDups(
          List((1L, a), (2L, b)).toDF("doc_id", "text"),
          anchorLen = A, maxOcc = 1000, minLen = A)
        .collect().map(_.getLong(4))
      val got = if (ext.isEmpty) 0 else ext.max.toInt
      // below anchorLen nothing is reportable; at or above, the longest
      // extent IS the LCS (every extent is a verified common substring,
      // and any common substring >= A yields a full-length diagonal run)
      if (lcs < A) got == 0 else got == lcs
    }

  property("duplicate clusters equal driver union-find on random graphs") =
    Prop.forAll(Gen.listOfN(25, for {
      a <- Gen.choose(0L, 30L)
      b <- Gen.choose(0L, 30L)
    } yield (a, b))) { rawEdges =>
      val edges = rawEdges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      edges.isEmpty || {
        val pairs = edges.toDF("doc_a", "doc_b").withColumn("jaccard", lit(1.0))
        val got = Dedup.duplicateClusters(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(n => n -> find(n)).toMap
        got == want
      }
    }

  property("semantic dedup equals driver brute-force over bucketed cosine pairs") =
    {
      import graft.operators.VectorOps
      val dim = VectorOps.Dim
      // vector pool with deliberate EXACT copies (exercises the
      // pre-collapse), jittered near-copies (intermediate cosines), an
      // occasional zero vector (NaN-cosine singleton), and random
      // near-orthogonal noise
      val genBase: Gen[Vector[Float]] =
        Gen.listOfN(dim, Gen.choose(-1f, 1f)).map(_.toVector)
      val genVecs: Gen[List[Vector[Float]]] = for {
        nBase <- Gen.choose(2, 4)
        bases <- Gen.listOfN(nBase, genBase)
        n <- Gen.choose(4, 14)
        vecs <- Gen.listOfN(n, Gen.frequency(
          3 -> Gen.oneOf(bases),
          2 -> Gen.oneOf(bases).flatMap(b =>
            Gen.choose(0, dim - 1).map(i => b.updated(i, b(i) + 0.01f))),
          1 -> Gen.const(Vector.fill(dim)(0f)),
          2 -> genBase))
      } yield vecs
      val planes = 2 // few buckets, several members each — misses ARE the spec
      Prop.forAll(genVecs, Gen.oneOf(0.8, 0.95, 0.999)) { (vecs, minCos) =>
        val emb = vecs.zipWithIndex
          .map { case (v, i) => (i.toLong, v.toArray) }.toDF("vec_id", "embedding")
        val got = VectorOps.semanticDedup(emb, minCos, numPlanes = planes)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
        // driver replica of the declarative spec: float→double exact,
        // sequential left-fold dot (the engine kernel's pinned order),
        // HALF_UP 6-dp rounding, pairs only WITHIN a hyperplane bucket,
        // union-find closure, min-id labels, NaN-cosine rows singleton
        val dv = vecs.map(_.map(_.toDouble))
        def dot(a: Vector[Double], b: Vector[Double]): Double =
          a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
        val planeVs = VectorOps.planesFor(planes).map(_.toVector)
        def bucket(v: Vector[Double]): Long =
          planeVs.zipWithIndex.map { case (p, j) =>
            if (dot(v, p) >= 0) 1L << j else 0L
          }.sum
        def cos6(a: Vector[Double], b: Vector[Double]): Double = {
          val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
          if (c.isNaN) Double.NaN
          else java.math.BigDecimal.valueOf(c)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        }
        val n = dv.length
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        for (i <- 0 until n; j <- (i + 1) until n
             if bucket(dv(i)) == bucket(dv(j))) {
          val c = cos6(dv(i), dv(j))
          if (!c.isNaN && c >= minCos) {
            val (ri, rj) = (find(i.toLong), find(j.toLong))
            if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
          }
        }
        val want = (0 until n).map { i =>
          val rep = find(i.toLong)
          (i.toLong, rep, rep == i.toLong)
        }.toSet
        got == want
      }
    }

  /** Scored corpora with HEAVY quality ties (few distinct values) —
    * the tie/boundary shapes the parquet fixture can't produce. */
  private val genScored: Gen[List[(Long, Int, Double)]] =
    for {
      n <- Gen.choose(1, 30)
      rows <- Gen.listOfN(n, for {
        t <- Gen.choose(1, 20)
        q <- Gen.oneOf(0.0, 0.25, 0.5, 0.5, 0.75, 1.0)
      } yield (t, q))
    } yield rows.zipWithIndex.map { case ((t, q), i) => (i.toLong, t, q) }

  property("budget selection ≡ greedy prefix under ties and exact-boundary budgets") =
    Prop.forAll(genScored, Gen.choose(0, 200), Gen.prob(0.5), Gen.choose(0, 30)) {
      (rows, randomBudget, useBoundary, k) =>
        val order = rows.sortBy(t => (-t._3, t._1))
        val prefixSums = order.scanLeft(0L)(_ + _._2).tail
        // half the time, land the budget EXACTLY on a greedy prefix sum
        // (the == boundary the WHERE cum <= budget must include)
        val budget =
          if (useBoundary && prefixSums.nonEmpty)
            prefixSums(k % prefixSums.length)
          else randomBudget.toLong
        var cum = 0L
        val expect = order.takeWhile { t => cum += t._2; cum <= budget }
          .map(_._1).toSet
        // res = 8: coarse grid forces multi-doc boundary buckets and
        // cross-bucket ties — the adversarial regime for the histogram
        val got = graft.operators.Sampling
          .selectScoredByBudget(rows.toDF("doc_id", "n_tokens", "uniq_ratio"),
            budget, res = 8)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        got == expect
    }

  property("token-window chunking reconstructs any corpus under any window/overlap") =
    Prop.forAll(
      for {
        w <- Gen.choose(2, 24)
        o <- Gen.choose(0, w - 1)
        docs <- Gen.listOfN(6, Gen.choose(0, 60).map(n =>
          // n tokens of 1-2 chars; n=0 makes the empty doc (tokenizes
          // to the single empty token — the degenerate floor)
          (0 until n).map(k => ("a" + (k % 7)).take(1 + k % 2)).mkString(" ")))
      } yield (w, o, docs)
    ) { case (w, o, docs) =>
      val step = w - o
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val toks = df.select(col("doc_id"),
          graft.operators.TextOps.tokens(col("text")).as("t"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
      val chunks = graft.operators.TextOps.chunkDocs(df, w, o)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .groupBy(_._1)
      chunks.forall { case (id, cs) =>
        val sorted = cs.sortBy(_._2).toVector
        val n = toks(id).size
        val wantN = math.max((n - o + step - 1) / step, 1)
        val rebuilt = sorted.flatMap { case (_, cid, _, text) =>
          val ts = text.split(" ", -1).toVector
          if (cid == 0) ts else ts.drop(math.min(o, ts.size))
        }
        sorted.map(_._2) == sorted.indices.map(_.toLong).toVector &&
          sorted.size == wantN &&
          sorted.forall(_._3 <= w) &&
          rebuilt == toks(id)
      } && chunks.keySet == toks.keySet
    }

  property("counting bloom: remove(build(M), D) equals build(M minus D) for any multiset") =
    Prop.forAll(
      for {
        n <- Gen.choose(1, 30)
        // texts drawn from 10 values — heavy duplication, so D deletes
        // OCCURRENCES of keys that usually survive elsewhere (the
        // multiset semantics), under a tiny geometry (1024 bits) where
        // positions collide constantly (the adversarial case for
        // per-position count arithmetic)
        texts <- Gen.listOfN(n, Gen.choose(0, 9).map(k => s"doc text $k"))
        mask <- Gen.listOfN(n, Gen.prob(0.4))
      } yield (texts, mask)
    ) { case (texts, mask) =>
      val mbits = 1 << 10
      def keys(ts: List[String]) = ts.toDF("text")
        .select(md5(TextOps.normText(col("text"))).as("content_key"))
      def counts(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val deleted = texts.zip(mask).filter(_._2).map(_._1)
      val survivors = texts.zip(mask).filterNot(_._2).map(_._1)
      counts(Dedup.countingBloomRemove(
          Dedup.countingBloomBits(keys(texts), mbits),
          keys(deleted), mbits)) ==
        counts(Dedup.countingBloomBits(keys(survivors), mbits))
    }

  property("sharded counting bloom: remove(build(M), D) equals build(M minus D) at shards=4") =
    Prop.forAll(
      for {
        n <- Gen.choose(1, 30)
        // same adversarial shape as the flat property — heavy key
        // duplication under a tiny collision-prone per-shard space —
        // re-run over the (shard, pos) keying so the sharded algebra
        // carries the same multiset guarantee the flat form proved
        texts <- Gen.listOfN(n, Gen.choose(0, 9).map(k => s"doc text $k"))
        mask <- Gen.listOfN(n, Gen.prob(0.4))
      } yield (texts, mask)
    ) { case (texts, mask) =>
      val mbits = 1 << 10
      val shards = 4
      def keys(ts: List[String]) = ts.toDF("text")
        .select(md5(TextOps.normText(col("text"))).as("content_key"))
      def counts(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
      val deleted = texts.zip(mask).filter(_._2).map(_._1)
      val survivors = texts.zip(mask).filterNot(_._2).map(_._1)
      counts(Dedup.shardedCountingBloomRemove(
          Dedup.shardedCountingBloomBits(keys(texts), shards, mbits),
          keys(deleted), shards, mbits)) ==
        counts(Dedup.shardedCountingBloomBits(keys(survivors), shards,
          mbits))
    }
}
