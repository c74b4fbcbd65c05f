package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with LocalSpark {

  test("the same seed gives the same envelope rows, whatever the partitioning") {
    def rows(seed: Long, parts: Int) =
      Gen.envelope(spark, seed, 3000, parts).orderBy("id").collect().map(_.toSeq).toSeq
    val a = rows(7, 1)
    assert(a.length == 3000)
    assert(rows(7, 5) == a)
    assert(rows(8, 1) != a)
  }

  test("envelope rows carry the nested schema name and the documented shape") {
    val n = 20000L
    val idx = (0L until n).map(Gen.indexOf(3, _)).groupBy(identity).map { case (i, xs) => i -> xs.size.toDouble / n }
    Gen.Weights.indices.foreach { i => assert(math.abs(idx(i) - Gen.Weights(i) / 100.0) < 0.015, s"index $i share ${idx(i)}") }
    val tomb = (0L until n).count(Gen.isTombstone(3, _)).toDouble / n
    assert(math.abs(tomb - Gen.TombstoneShare) < 0.005)
    val docs = (0L until 200L).map(Gen.document(3, _, 0))
    assert(docs.forall(_.contains(""""schema_maintainer":{"schema_name":""")))
    val avg = docs.map(_.length).sum / docs.size
    assert(avg > 350 && avg < 550, s"mean document size $avg B")
  }

  test("CDC batches are reproducible, on distinct ids, and later than the bootstrap") {
    def batches(seed: Long) = {
      val live = new Gen.LiveIds(seed, 5000, 0)
      (0 until 4).map(r => Gen.cdcBatch(seed, r, 200, live))
    }
    val a = batches(11)
    assert(batches(11) == a)
    assert(batches(12) != a)
    a.foreach { b =>
      assert(b.map(_.n).distinct.size == 200)
      assert(b.count(_.isDeleted) == 20)
      assert(b.forall(_.idx == Gen.Indexes(0)))
      assert(b.forall(c => Gen.indexOf(11, c.n) == 0))
    }
    val stamps = a.flatten.map(_.updatedAtMicros)
    assert(stamps == stamps.sorted && stamps.distinct.size == stamps.size)
    assert(stamps.head > (0L until 5000L).map(Gen.updatedAtMicros(11, _)).max)
  }

  test("a CDC batch updates and deletes only live ids, and inserts only new ones") {
    val live = new Gen.LiveIds(5, 5000, 2)
    val before = (0 until live.size).map(live(_)).toSet
    val b = Gen.cdcBatch(5, 0, 200, live)
    val (existing, inserted) = b.partition(c => before.contains(c.n))
    assert(existing.size == 160 && inserted.size == 40)
    assert(inserted.forall(c => c.n >= 5000 && !c.isDeleted))
    assert(b.filter(_.isDeleted).forall(c => !live.contains(c.n)))
    assert(b.filterNot(_.isDeleted).forall(c => live.contains(c.n)))
  }

  test("search queries are reproducible and name corpus docs") {
    val q = Gen.queries(9, 3, 8, 1000)
    assert(q == Gen.queries(9, 3, 8, 1000))
    assert(q.map(_._1).distinct.size == 8 && q.forall(_._1 < 1000))
    assert(q.forall(_._2.size == 2))
  }
}
