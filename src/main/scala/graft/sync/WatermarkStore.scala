package graft.sync

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** T2 — persisted CDC watermark (reference save_last_run_config /
  * `last_modified`, flows/main_flow.py:603,611). One timestamp string per
  * store and one per index (with that index's drift [[Probe]]), each
  * atomically replaced. The batch analog of a Structured Streaming
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
    readFile(indexPath(index)).map(_.linesIterator.next()).orElse(load()).getOrElse(Epoch)

  /** Saves an index's watermark together with its drift probe (T11), in
    * one atomic replace: the probe always describes the state the
    * watermark says the store holds. A save without a probe drops the
    * index's probe; the next planned round picks a new one. */
  def save(index: String, watermark: String, probe: Option[Probe] = None): Unit =
    writeAtomic(indexPath(index), (watermark +: probe.toSeq.flatMap(p =>
      Seq(p.id, p.value).map(URLEncoder.encode(_, UTF_8)))).mkString("\n"))

  /** The drift probe saved with an index's watermark, if any. */
  def probe(index: String): Option[Probe] =
    readFile(indexPath(index)).map(_.linesIterator.drop(1).map(URLDecoder.decode(_, UTF_8)).toList)
      .collect { case id :: value :: _ => Probe(id, value) }

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

/** T11's drift probe: one published doc's id and the value of its drift
  * field (`SyncPipeline.DriftJsonPath`) as of the save. */
case class Probe(id: String, value: String)
