package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of
  * `(seed, row number, salt)` through a SplitMix64 hash, so the same seed
  * yields the same rows whichever JVM, partitioning or call order builds
  * them, and the benchmark can re-derive any generated row without reading
  * it back.
  *
  * Envelope rows mirror the synced relation: `(idx, id, document,
  * is_deleted, updated_at)`. Documents are ~450 B of JSON carrying the
  * nested `schema_maintainer.schema_name` path. Indexes are skewed: the
  * largest holds ~35% of the docs, the smallest ~6%. */
object Gen {

  val Indexes: Vector[String] = Vector(
    "works", "agents", "places", "events", "concepts", "collections", "media", "sets")
  /** Share of docs per index, in percent (sums to 100). */
  val Weights: Vector[Int] = Vector(35, 16, 12, 9, 8, 7, 7, 6)
  private val Cumulative = Weights.scanLeft(0)(_ + _).tail

  val TombstoneShare = 0.02

  /** 2024-01-01T00:00:00Z in epoch micros; generated bootstrap rows fall
    * within 30 days of it, CDC rounds after it. */
  val T0Micros = 1704067200000000L
  private val Span30dMicros = 30L * 86400L * 1000000L
  private val DayMicros = 86400L * 1000000L

  // ---- hashing ---------------------------------------------------------

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, n: Long, salt: Long): Long =
    mix(mix(mix(seed) ^ n) ^ (salt * 0x632BE59BD9B4E019L))

  /** Uniform in [0, 1). */
  def unit(seed: Long, n: Long, salt: Long): Double =
    (hash(seed, n, salt) >>> 11).toDouble / (1L << 53).toDouble

  def below(seed: Long, n: Long, salt: Long, bound: Int): Int =
    java.lang.Long.remainderUnsigned(hash(seed, n, salt), bound.toLong).toInt

  // ---- vocabulary ------------------------------------------------------

  private val Syllables = Vector("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "ber", "dan", "fel", "gor", "hin", "jul", "kem", "lor")

  /** 4096 distinct two-or-three-syllable words. */
  val Vocabulary: Vector[String] = (0 until 4096).toVector.map { i =>
    val a = Syllables(i & 15); val b = Syllables((i >> 4) & 15); val c = Syllables((i >> 8) & 15)
    if (i < 256) a + b else a + b + c
  }

  // ---- envelope docs ---------------------------------------------------

  def id(n: Long): String = f"d$n%09d"

  def indexOf(seed: Long, n: Long): Int = {
    val p = below(seed, n, 1, 100)
    Cumulative.indexWhere(p < _)
  }

  def isTombstone(seed: Long, n: Long): Boolean = unit(seed, n, 2) < TombstoneShare

  def updatedAtMicros(seed: Long, n: Long): Long =
    T0Micros + java.lang.Long.remainderUnsigned(hash(seed, n, 3), Span30dMicros)

  /** The JSON payload of doc `n` at `version` (0 = bootstrap; CDC round r
    * writes version r + 1). */
  def document(seed: Long, n: Long, version: Int): String = {
    val idx = Indexes(indexOf(seed, n))
    val salt = 1000L + version * 131L
    def word(j: Int) = Vocabulary(below(seed, n, salt + j, Vocabulary.length))
    val title = (0 until 4).map(word).mkString(" ")
    val body = (4 until 46).map(word).mkString(" ")
    s"""{"schema_maintainer":{"schema_name":"${idx}_v1"},"k":${below(seed, n, 4, 97)},""" +
      s""""version":$version,"title":"$title","body":"$body"}"""
  }

  /** `n` bootstrap envelope rows, generated on the executors. */
  def envelope(spark: SparkSession, seed: Long, n: Long, partitions: Int): DataFrame = {
    val row = udf((i: Long) => (Indexes(indexOf(seed, i)), id(i), document(seed, i, 0),
      isTombstone(seed, i), updatedAtMicros(seed, i)))
    spark.range(0, n, 1, partitions)
      .select(row(col("id")).as("r"))
      .select(col("r._1").as("idx"), col("r._2").as("id"), col("r._3").as("document"),
        col("r._4").as("is_deleted"), timestamp_micros(col("r._5")).as("updated_at"))
  }

  // ---- CDC batches -----------------------------------------------------

  /** One generated change to doc `n`. */
  final case class Change(n: Long, idx: String, document: String, isDeleted: Boolean,
      updatedAtMicros: Long)

  /** Live ids of one index, which the CDC generator draws updates and
    * tombstones from: the ids live after bootstrap, then after every
    * generated round. Inserts take the next unused ids that hash to the
    * index. */
  final class LiveIds(seed: Long, bootstrap: Long, val index: Int) {
    private val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val pos = scala.collection.mutable.HashMap.empty[Long, Int]
    (0L until bootstrap).foreach(n => if (indexOf(seed, n) == index && !isTombstone(seed, n)) add(n))
    private var next: Long = bootstrap

    def size: Int = ids.size
    def contains(n: Long): Boolean = pos.contains(n)
    def apply(i: Int): Long = ids(i)
    def add(n: Long): Unit = { pos(n) = ids.size; ids += n }
    def remove(n: Long): Unit = {
      val i = pos.remove(n).get
      val last = ids.remove(ids.size - 1)
      if (last != n) { ids(i) = last; pos(last) = i }
    }
    def fresh(): Long = {
      while (indexOf(seed, next) != index) next += 1
      next += 1
      next - 1
    }
  }

  /** Round `round`'s batch for `live`'s index: `size` changes on distinct
    * ids, 70% updates and 10% tombstones of live ids, 20% inserts of new
    * ids, each with an `updated_at` later than every earlier row.
    * Mutates `live`. */
  def cdcBatch(seed: Long, round: Int, size: Int, live: LiveIds): Vector[Change] = {
    val nUpd = size * 7 / 10
    val nDel = size / 10
    val nIns = size - nUpd - nDel
    val base = T0Micros + Span30dMicros + (round + 1L) * DayMicros
    val rng = new java.util.SplittableRandom(hash(seed, round, 5))
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < nUpd + nDel) picked += live(rng.nextInt(live.size))
    val (upd, del) = picked.toVector.splitAt(nUpd)
    val ins = Vector.fill(nIns)(live.fresh())
    del.foreach(live.remove)
    ins.foreach(live.add)
    val idx = Indexes(live.index)
    val v = round + 1
    val changes = (upd ++ ins).map(n => Change(n, idx, document(seed, n, v), false, 0L)) ++
      del.map(n => Change(n, idx, document(seed, n, v), true, 0L))
    changes.zipWithIndex.map { case (c, j) => c.copy(updatedAtMicros = base + j) }
  }

  /** `(id -> document)` of every live doc of `live`'s index after
    * bootstrap: the model a CDC run checks the store against. Call it
    * before the first batch; `applyBatch` keeps it current. */
  def liveDocs(seed: Long, bootstrap: Long, live: LiveIds): scala.collection.mutable.HashMap[String, String] = {
    val docs = scala.collection.mutable.HashMap.empty[String, String]
    (0L until bootstrap).foreach(n => if (live.contains(n)) docs(id(n)) = document(seed, n, 0))
    docs
  }

  /** Latest version wins; a tombstone drops the id. */
  def applyBatch(docs: scala.collection.mutable.HashMap[String, String], changes: Seq[Change]): Unit =
    changes.foreach(c => if (c.isDeleted) docs -= id(c.n) else docs(id(c.n)) = c.document)

  def changesFrame(spark: SparkSession, changes: Seq[Change]): DataFrame = {
    import spark.implicits._
    changes.map(c => (c.idx, id(c.n), c.document, c.isDeleted, c.updatedAtMicros))
      .toDF("idx", "id", "document", "is_deleted", "updated_at_us")
      .select(col("idx"), col("id"), col("document"), col("is_deleted"),
        timestamp_micros(col("updated_at_us")).as("updated_at"))
  }

  // ---- serve corpus ----------------------------------------------------

  val Topics = 16
  private val TopicWords = 48
  val Dim = 64

  def topicOf(seed: Long, n: Long): Int = below(seed, n, 10, Topics)

  private def topicWord(seed: Long, t: Int, j: Int): String =
    Vocabulary(256 + t * TopicWords + j)

  /** Doc text: 40 words, 60% from the doc's topic, the rest general. */
  def text(seed: Long, n: Long): String = {
    val t = topicOf(seed, n)
    (0 until 40).map { j =>
      if (unit(seed, n, 20 + j) < 0.6) topicWord(seed, t, below(seed, n, 100 + j, TopicWords))
      else Vocabulary(256 + Topics * TopicWords + below(seed, n, 200 + j, 1024))
    }.mkString(" ")
  }

  /** Embedding: the topic's centroid plus noise, so dense neighbours
    * share topics the way lexical matches do. */
  def embedding(seed: Long, n: Long): Array[Float] = {
    val t = topicOf(seed, n)
    Array.tabulate(Dim) { d =>
      val c = unit(seed, t, 300 + d) * 2 - 1
      val noise = unit(seed, n, 400 + d) - 0.5
      (c + 0.6 * noise).toFloat
    }
  }

  /** Serve corpus as envelope rows of one index: `document` carries the
    * text; the numeric id doubles as doc_id / vec_id. */
  def corpus(spark: SparkSession, seed: Long, n: Long, partitions: Int): DataFrame = {
    val row = udf((i: Long) => (i.toString,
      s"""{"schema_maintainer":{"schema_name":"corpus_v1"},"text":"${text(seed, i)}"}"""))
    spark.range(0, n, 1, partitions).select(row(col("id")).as("r"))
      .select(lit("corpus").as("idx"), col("r._1").as("id"), col("r._2").as("document"),
        lit(false).as("is_deleted"), timestamp_micros(lit(T0Micros)).as("updated_at"))
  }

  def embeddings(spark: SparkSession, seed: Long, n: Long, partitions: Int): DataFrame = {
    val e = udf((i: Long) => embedding(seed, i).toSeq)
    spark.range(0, n, 1, partitions)
      .select(col("id").as("vec_id"), e(col("id")).as("embedding"))
  }

  /** Call `call`'s queries: `perCall` distinct corpus docs; each query
    * uses its doc's id (its vector is the query vector) and two words of
    * the doc's topic. */
  def queries(seed: Long, call: Int, perCall: Int, corpusSize: Long): Seq[(Long, Seq[String])] = {
    val rng = new java.util.SplittableRandom(hash(seed, call, 30))
    val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (ids.size < perCall) ids += rng.nextLong(corpusSize)
    ids.toSeq.map { q =>
      val t = topicOf(seed, q)
      q -> Seq(topicWord(seed, t, rng.nextInt(TopicWords)), topicWord(seed, t, rng.nextInt(TopicWords)))
    }
  }
}
