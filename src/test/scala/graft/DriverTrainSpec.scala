package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorOps

/** Codebook training on the driver from one collect must yield the same
  * bits as the distributed Lloyd loops it replaces below the
  * cells × 256 bound — the loops stay the large-corpus path, and the
  * reference here. */
class DriverTrainSpec extends AnyFunSuite with SparkSpec {

  private def bits(cs: Seq[Seq[Double]]): Seq[Seq[Long]] =
    cs.map(_.map(java.lang.Double.doubleToRawLongBits))
  private def bookBits(bs: Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Long]]] =
    bs.map(bits)

  /** A fixture's embeddings with one zero vector (its NaN cosine ranks
    * highest) and one null embedding, both past every seed id. */
  private def embeddingsOf(dir: String): DataFrame =
    graft.sources.Tables.embeddings(spark, dir).select(col("vec_id"),
      when(col("vec_id") === 100, array_repeat(lit(0.0f), VectorOps.Dim))
        .when(col("vec_id") === 101, lit(null))
        .otherwise(col("embedding")).as("embedding"))

  private def vectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), VectorOps.asDoubles(col("embedding")).as("v"))

  for ((fixture, n) <- Seq("sf0.001" -> 500L, "sf0.1" -> 2000L)) {
    test(s"driver training equals the distributed loops bit for bit ($fixture)") {
      val emb = embeddingsOf(s"/root/testdata/$fixture").cache()
      val e = vectors(emb)
      assert(e.count() === n)
      assert(e.where(col("v").isNull).count() === 1L, "no null embedding; vacuous")
      for (k <- Seq(VectorOps.adaptiveCells(n), VectorOps.NumCentroids)) {
        val ts = VectorOps.trainSetOf(e, k.toLong * VectorOps.DriverTrainPerCell)
        assert(ts.isDefined, s"$n vectors at $k cells should train on the driver")
        val cents = VectorOps.centroidsOn(ts.get, k, VectorOps.KMeansIters)
        val loop = VectorOps.kmeansLoop(e, k, VectorOps.KMeansIters)
        assert(bits(cents) === bits(loop), s"coarse codebook, $k cells")
        assert(bits(VectorOps.trainedCentroids(emb, k)) === bits(loop))

        val books = VectorOps.booksOn(VectorOps.residualsOn(ts.get, cents),
          VectorOps.PqSubspaces, VectorOps.PqSubCentroids, VectorOps.PqIters)
        val booksLoop = VectorOps.pqTrainBooksOn(VectorOps.residualsFrame(emb, loop),
          VectorOps.PqSubspaces, VectorOps.PqSubCentroids, VectorOps.PqIters)
        assert(bookBits(books) === bookBits(booksLoop), s"residual books, $k cells")
        assert(bookBits(VectorOps.pqResidualCodebooks(emb, cents)) === bookBits(booksLoop))

        val (c2, b2) = VectorOps.ivfPqCodebooks(emb, k, n)
        assert(bits(c2) === bits(loop) && bookBits(b2) === bookBits(booksLoop))
      }
      // the zero vector lands in cell 0 (NaN cosine ranks highest)
      val zero = VectorOps.TrainSet(Array(100L),
        Array(Array.fill(VectorOps.Dim)(0.0)))
      val cents = VectorOps.trainedCentroids(emb)
      assert(VectorOps.residualsOn(zero, cents).vs.head.toSeq ===
        cents.head.map(0.0 - _))

      val ts = VectorOps.trainSetOf(e,
        VectorOps.PqSubCentroids.toLong * VectorOps.DriverTrainPerCell)
      assert(bookBits(VectorOps.booksOn(ts.get, VectorOps.PqSubspaces,
        VectorOps.PqSubCentroids, VectorOps.PqIters)) ===
        bookBits(VectorOps.pqTrainBooksOn(e, VectorOps.PqSubspaces,
          VectorOps.PqSubCentroids, VectorOps.PqIters)), "raw PQ books")
      emb.unpersist()
    }
  }

  test("above the cells × 256 bound, training stays distributed") {
    val e = vectors(graft.sources.Tables.embeddings(spark, sf))
    assert(VectorOps.trainSetOf(e, 499).isEmpty)
    assert(VectorOps.trainSetOf(e, 499, Some(500L)).isEmpty)
    assert(VectorOps.trainSetOf(e, 500).map(_.ids.length) === Some(500))
    // a ragged vector leaves the driver path too
    val ragged = e.withColumn("v", when(col("vec_id") === 7, slice(col("v"), 1, 3))
      .otherwise(col("v")))
    assert(VectorOps.trainSetOf(ragged, 500).isEmpty)
  }
}
