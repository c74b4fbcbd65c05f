package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The pinned-constants guard every sliced streaming artifact opens
  * through ([[SlicedArtifact.pinConstants]]): a reopen under different
  * constructor constants must refuse, never mix generations. Spark-free:
  * the guard is a digest file, so it is exercised directly. */
class PinConstantsSpec extends AnyFunSuite {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix)

  /** The sectioned pin of a (rules, cents, books) constructor — the
    * shape a rules-plus-codebooks artifact pins at first open. */
  private def pin(root: String, rules: Seq[(String, String)],
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]]): Unit =
    SlicedArtifact.pinConstants(root,
      SlicedArtifact.section("rules", Seq(rules.size),
        rules.iterator.flatMap { case (l, r) => Iterator(l, r) }) ++
        SlicedArtifact.section("cents",
          Seq(cents.size, cents.headOption.map(_.size).getOrElse(0)),
          SlicedArtifact.doubleParts(cents.flatten)) ++
        SlicedArtifact.section("books",
          Seq(books.size, books.headOption.map(_.size).getOrElse(0),
            books.headOption.flatMap(_.headOption).map(_.size).getOrElse(0)),
          SlicedArtifact.doubleParts(books.flatten.flatten)),
      "rules / codebooks")

  test("pinned-constants guard hardening: section aliases refuse, corruption is named, first pin is atomic and race-safe") {
    val cents1 = Seq(Seq(1.0))
    val books1 = Seq(Seq(Seq(2.0)))

    // crafted section-boundary alias: the same flat double stream with
    // one value moved across the cents/books boundary — the unlabeled,
    // unshaped digest would have accepted this reopen silently
    val rootA = tmp("pin-alias").toString
    pin(rootA, Nil, Seq(Seq(1.0, 2.0)), Seq(Seq(Seq(3.0))))
    val exA = intercept[IllegalArgumentException] {
      pin(rootA, Nil, Seq(Seq(1.0)), Seq(Seq(Seq(2.0, 3.0))))
    }
    assert(exA.getMessage.contains("different rules"),
      s"wrong failure: ${exA.getMessage}")

    // a rule string containing the former NUL part separator must not
    // alias a differently-split pair (length-prefixed parts)
    val rootB = tmp("pin-rulesep").toString
    pin(rootB, Seq(("a\u0000b", "c")), cents1, books1)
    val exB = intercept[IllegalArgumentException] {
      pin(rootB, Seq(("a", "b\u0000c")), cents1, books1)
    }
    assert(exB.getMessage.contains("different rules"),
      s"wrong failure: ${exB.getMessage}")

    // a truncated stored digest (crashed pre-guard writer, manual edit)
    // reports CORRUPTION with its own message — not the misleading
    // "written under different constants"
    val rootC = tmp("pin-corrupt").toString
    pin(rootC, Nil, cents1, books1)
    Files.writeString(
      java.nio.file.Paths.get(rootC, "CONSTANTS"), "deadbeef")
    val exC = intercept[IllegalArgumentException] {
      pin(rootC, Nil, cents1, books1)
    }
    assert(exC.getMessage.contains("corrupt"),
      s"wrong failure: ${exC.getMessage}")

    // two concurrent FIRST opens under different constants: the link
    // commit is first-wins-atomic, so exactly one handle proceeds and
    // the loser refuses — never both (that would mix generations), and
    // the stored pin is always a complete digest
    (1 to 8).foreach { i =>
      val d = tmp(s"pin-race-$i").toString
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.atomic.AtomicInteger
      val ts = Seq(Seq(Seq(1.0)), Seq(Seq(2.0))).map { c =>
        new Thread(() => {
          barrier.await()
          try { pin(d, Nil, c, books1); () }
          catch { case _: IllegalArgumentException =>
            errs.incrementAndGet(); () }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(errs.get() == 1,
        s"race trial $i: ${errs.get()} handles refused (want exactly 1)")
      assert(Files.readString(java.nio.file.Paths.get(d, "CONSTANTS"))
        .trim.matches("[0-9a-f]{64}"), s"race trial $i: partial pin")
    }
  }
}
