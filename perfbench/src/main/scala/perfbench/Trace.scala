package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Spark work counted at one instant; spans report differences. */
final case class Counters(jobs: Long, tasks: Long, runMs: Long, gcMs: Long,
    shuffleBytes: Long, bytesRead: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks, runMs - o.runMs,
    gcMs - o.gcMs, shuffleBytes - o.shuffleBytes, bytesRead - o.bytesRead)
}

/** The benchmark's own SparkListener: job and task totals. */
final class Probe extends SparkListener {
  private val jobs, tasks, runMs, gcMs, shuffle, read = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      read.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def now: Counters = Counters(jobs.get, tasks.get, runMs.get, gcMs.get, shuffle.get, read.get)
}

/** One timed call: name, wall interval, causing span, counter deltas. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    work: Counters) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the library, kept in memory
  * and written as JSON lines when the run ends. Only built for traced
  * runs; untraced runs time the same calls with no listener attached. */
final class Tracer(spark: SparkSession) {
  private val probe = new Probe
  private var attached = false
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  private def settled(): Counters = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    probe.now
  }

  /** Times `body` as a span; `parent` is the id of the span that caused
    * it, 0 for none. */
  def span[A](name: String, parent: Int)(body: => A): (A, Span) = {
    val before = settled()
    val t0 = System.nanoTime()
    val out = body
    val t1 = System.nanoTime()
    val s = Span(spans.length + 1, parent, name, t0, t1, settled() - before)
    spans += s
    (out, s)
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val w = s.work
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"jobs":${w.jobs},"tasks":${w.tasks},"run_ms":${w.runMs},""" +
        s""""gc_ms":${w.gcMs},"shuffle_bytes":${w.shuffleBytes},"bytes_read":${w.bytesRead}}"""
    }
    Files.write(path, lines.asJava)
  }

  /** Listener on: spans count Spark work from here. */
  def attach(): Unit = if (!attached) { spark.sparkContext.addSparkListener(probe); attached = true }

  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(probe)
    attached = false
  }
}

/** Parquet files under a directory: relative path → size. Diffing two
  * listings gives the files an operation wrote. */
object DirListing {
  def of(root: Path): Map[String, Long] =
    if (!Files.isDirectory(root)) Map.empty
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    }

  def bytes(root: Path): Long =
    if (!Files.isDirectory(root)) 0L
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    }

  /** Files present after but not before (names are unique per write). */
  def added(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.filter { case (p, _) => !before.contains(p) }
}
