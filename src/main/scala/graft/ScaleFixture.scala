package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization-round measurement tool (guide §1 / r20 verdict item 5):
  * synthesizes a LARGER deterministic fixture from an existing one so
  * parallel scaling (8 vs 32 cores) can be measured at an SF where the
  * heavy queries are compute-bound rather than job-latency-bound — the
  * r20 scaling block's 0.80–1.19 ratios at sf0.1 measured per-stage
  * overhead, not the operators. Not part of the driver contract; never
  * timed; writes only under the given output dir (never touches
  * /root/testdata).
  *
  * Construction: `factor` disjoint copies of `documents`/`embeddings`
  * with ids offset by copy·10⁷ (the shared doc/vec id space is
  * preserved) and each copy's text passed through a rotated-alphabet
  * `translate` — deterministic, length-preserving, and vocabulary-
  * disjoint across copies, so the dedup/minhash families scale their
  * WORK ~linearly instead of drowning in cross-copy duplicate pairs
  * (20 verbatim copies of every doc would turn each near-dup cluster
  * into a 20²-pair clique — a different workload, not a bigger one).
  * Copy 0 is the original fixture verbatim. The small relational
  * tables copy through unchanged.
  *
  * Usage: runMain graft.ScaleFixture <srcDir> <outDir> <factor>
  */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    // copy c disguises its text with rot(c); rot(26) is the identity, so
    // a 27th copy would repeat copy 0 verbatim
    require(factor >= 1 && factor <= 26, s"factor $factor outside 1..26")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    def rot(k: Int) = lower.drop(k) + lower.take(k)
    // copy c offsets its ids by c·IdStride: source ids at or past the
    // stride would collide with the next copy's
    val IdStride = 10000000L
    def belowStride(df: org.apache.spark.sql.DataFrame, id: String) = {
      val top = df.agg(max(col(id))).head()
      require(top.isNullAt(0) || top.getAs[Number](0).longValue < IdStride,
        s"max $id ${top.get(0)} is not below the copy stride $IdStride")
      df
    }

    val docs = belowStride(spark.read.parquet(s"$srcDir/documents.parquet"), "doc_id")
    (0 until factor).map { c =>
      docs.select(
        (col("doc_id") + lit(c * IdStride)).as("doc_id"),
        (if (c == 0) col("text")
         else translate(col("text"), lower, rot(c))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")

    val emb = belowStride(spark.read.parquet(s"$srcDir/embeddings.parquet"), "vec_id")
    (0 until factor).map { c =>
      emb.select((col("vec_id") + lit(c * IdStride)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events")) {
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
    }
    println(s"[scalefixture] $outDir = $factor x $srcDir")
    spark.stop()
  }
}
