package graft.sync

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** T2 — persisted CDC watermark (reference save_last_run_config /
  * `last_modified`, flows/main_flow.py:603,611). One timestamp string per
  * store, atomically replaced. The batch analog of a Structured Streaming
  * checkpoint offset; the streaming variant uses `checkpointLocation`
  * instead (graft.streaming). */
class WatermarkStore(dir: String) {
  private val path: Path = Paths.get(dir, "_watermark")
  Files.createDirectories(Paths.get(dir))

  /** Sentinel mirrors the reference's `'0001-01-01T00:00:00'` default
    * (flows/main_flow.py:588). */
  val Epoch = "0001-01-01 00:00:00"

  def load(): Option[String] =
    readFile(path)

  def loadOrEpoch(): String = load().getOrElse(Epoch)

  def save(watermark: String): Unit = writeAtomic(path, watermark)

  // --- per-index watermarks ----------------------------------------------
  // A single global watermark silently skips changes in indexes excluded
  // from a partial sync (their watermark would advance without their data
  // being read). Each index therefore tracks its own; the global file
  // remains as the bootstrap default for indexes never synced alone.

  private def indexPath(index: String): Path = {
    require(!index.contains("/") && !index.contains(".."), s"bad index name: $index")
    Paths.get(dir, s"_wm_$index")
  }

  /** Watermark for one index: its own if present, else the global, else
    * the epoch sentinel. */
  def loadOrEpoch(index: String): String =
    readFile(indexPath(index)).orElse(load()).getOrElse(Epoch)

  def save(index: String, watermark: String): Unit =
    writeAtomic(indexPath(index), watermark)

  /** Every index that has a watermark of its own. */
  def indexes(): Seq[String] =
    Using.resource(Files.list(Paths.get(dir))) { s =>
      s.iterator().asScala.map(_.getFileName.toString)
        .collect { case f if f.startsWith("_wm_") && !f.endsWith(".tmp") => f.stripPrefix("_wm_") }
        .toSeq.sorted
    }

  private def readFile(p: Path): Option[String] =
    if (Files.exists(p)) Some(Files.readString(p).trim).filter(_.nonEmpty)
    else None

  private def writeAtomic(p: Path, value: String): Unit = {
    val tmp = Paths.get(p.toString + ".tmp")
    Files.writeString(tmp, value)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
