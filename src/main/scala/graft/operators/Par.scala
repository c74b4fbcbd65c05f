package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism repair for per-row CPU kernels over narrow scans
  * (optimization guide §2.5 "input skew" / §6 input split sizing).
  *
  * A single small parquet file is ONE Spark split (a one-row-group file
  * cannot be subdivided), so every map-only kernel chain over it —
  * anchor hashing, image decode, PQ encode — runs on ONE task no matter
  * how many cores the session has: measured at sf0.1, the x36 anchor
  * kernel, the m3 image decode and the x58 PQ encode each ran a single
  * ~0.5–1.3 s task while 31 cores idled. [[spread]] repartitions such
  * an input up to the session's default parallelism by a deterministic
  * hash key.
  *
  * Deliberately CONDITIONAL — this must never add a corpus-wide
  * shuffle at scale: a real 100 TB corpus scan already yields thousands
  * of splits, so `spread` is an identity there (the partition count is
  * read from the physical scan, no job runs). Only an input that
  * underfills the cluster by 2× or more is repartitioned, and what
  * shuffles is exactly the kernel's input slice — the narrow projected
  * columns, once. Keyed (hash) repartition, not round-robin: row
  * placement is a pure function of the key, so a retried map task
  * reproduces the same assignment (guide §2.5's determinism rule) and
  * results are independent of the incoming row order. */
object Par {
  def spread(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 > p) df else df.repartition(p, key)
  }

  /** Run independent driver-side constructions concurrently
    * (optimization guide §2.6 "overlap independent jobs"): Spark's
    * scheduler happily runs jobs submitted from several threads at
    * once — actions are only sequential because driver code calls them
    * sequentially — so eager per-branch work (bounded collects,
    * localCheckpoint materializations) overlaps instead of
    * serializing, and each job's task tail back-fills the executors
    * the others free. Used by the recall-curve sweeps, whose knob
    * points are independent by construction (each reads its own
    * artifacts and checkpoints its own frames). A small fixed pool —
    * 2–3 jobs in flight is enough to fill the tail without fighting
    * for executors (§2.6); results return in input order.
    *
    * Failure cancels the siblings: results are awaited in COMPLETION
    * order, so the first task to fail is seen at once (not after every
    * earlier-submitted sibling finishes), the pool is shut down NOW —
    * running siblings are interrupted and queued ones never start —
    * and after a bounded wait for them to unwind the original cause
    * propagates unwrapped, as in the sequential form. */
  def concurrently[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.lengthCompare(2) < 0) tasks.map(_())
    else {
      import java.util.concurrent._
      val pool = Executors.newFixedThreadPool(math.min(tasks.length, 3))
      val done = new ExecutorCompletionService[A](pool)
      try {
        val fs = tasks.map { t =>
          done.submit(new Callable[A] { override def call(): A = t() })
        }
        fs.foreach { _ =>
          try done.take().get()
          catch {
            case e: ExecutionException =>
              pool.shutdownNow()
              pool.awaitTermination(CancelWaitSeconds, TimeUnit.SECONDS)
              throw e.getCause
          }
        }
        fs.map(_.get())
      } finally { pool.shutdown(); () }
    }

  /** How long a failed [[concurrently]] waits for its interrupted
    * siblings to unwind before rethrowing. */
  private val CancelWaitSeconds = 10L
}
