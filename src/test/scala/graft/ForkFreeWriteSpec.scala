package graft

import graft.serve.Retrieval
import graft.sources.Tables
import graft.sources.Tables._
import graft.sync.{IndexStore, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** Store and snapshot writes set file permissions in-process: without
  * the native Hadoop library, Hadoop's own local filesystem forks a
  * `chmod` for every directory, data file and checksum file it creates. */
class ForkFreeWriteSpec extends AnyFunSuite with SparkSpec {

  private lazy val env = Tables.envelope(spark, sf).select(Idx, Id, Document, IsDeleted).cache()
  private lazy val docs = Tables.documents(spark, sf).select("doc_id", "text").cache()
  private lazy val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding").cache()

  /** The command lines of the processes the JVM started during `body`,
    * from a JFR recording of `jdk.ProcessStart` (stopping a recording
    * flushes every thread's buffered events before the dump). */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-proc", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("bucketed store writes, bucket swaps and snapshot builds start no process") {
    val dir = Files.createTempDirectory("graft-forks")
    val store = new IndexStore(spark, dir.toString)
    Seq(env, docs, emb).foreach(_.count())
    // the first local write initializes Hadoop's Shell class, whose
    // static init probes `setsid` in a child process once per JVM
    store.writePhysical("warm", env.limit(1))
    val starts = processStarts {
      store.writePhysicalBucketed("ix", env, Id, 4)
      store.replaceBuckets("ix", store.readPhysical("ix").repartition(2), Seq(0L, 1L, 2L, 3L))
      Retrieval.build(docs, emb, dir.resolve("snap").toString)
    }.filterNot(_ == "getconf PAGESIZE") // Spark's executor metrics probe it once per JVM, on their own schedule
    assert(starts.size === 0, s"writes started processes: ${starts.take(5)}")
    assert(store.readPhysical("ix").count() === env.count())
    // the probe does see the forks of a write through the stock local
    // filesystem, where no native library sets modes in-process
    if (!NativeIO.isAvailable) {
      val stock = processStarts(env.write.parquet(dir.resolve("stock").toString))
      assert(stock.exists(_.contains("chmod")), s"stock write started: ${stock.take(5)}")
    }
  }

  test("NIO permissions equal the modes Hadoop's own chmod sets") {
    val dir = Files.createTempDirectory("graft-modes")
    def fs(raw: RawLocalFileSystem): RawLocalFileSystem = {
      raw.initialize(java.net.URI.create("file:///"), new Configuration())
      raw
    }
    val nio = fs(new NioRawLocalFileSystem)
    val stock = fs(new RawLocalFileSystem)
    def modeOf(p: java.nio.file.Path): String =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    for (mode <- Seq("644", "755", "600", "700", "444"); kind <- Seq("file", "dir")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val (a, b) = (dir.resolve(s"nio_${kind}_$mode"), dir.resolve(s"stock_${kind}_$mode"))
      Seq(a, b).foreach(p => if (kind == "file") Files.createFile(p) else Files.createDirectory(p))
      nio.setPermission(new Path(a.toUri), perm)
      stock.setPermission(new Path(b.toUri), perm)
      assert(modeOf(a) === modeOf(b), s"$kind $mode")
      assert(nio.getFileStatus(new Path(a.toUri)).getPermission ===
        stock.getFileStatus(new Path(b.toUri)).getPermission, s"$kind $mode")
    }
    // a mode NIO cannot express falls back to Hadoop's implementation
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    nio.setPermission(new Path(sticky.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(nio.getFileStatus(new Path(sticky.toUri)).getPermission.getStickyBit)
    assert(modeOf(sticky) === "rwxrwxrwx")
  }
}
