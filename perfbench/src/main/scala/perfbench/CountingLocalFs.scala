package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}

/** The local filesystem with counters on the metadata calls the lake
  * makes: directory listings, single-file stats and opens (manifest opens
  * apart). Only paths under `CountingLocalFs.root` count, so Spark's own
  * file traffic elsewhere stays out of the lake's numbers. Bytes read come
  * from Hadoop's per-scheme statistics; the lake writes through java.nio,
  * so written files are counted by walking the table directory instead.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  private def counted(p: Path): Boolean = {
    val r = root
    r != null && p.toUri.getPath.startsWith(r)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    if (counted(p)) lists.incrementAndGet()
    super.listStatus(p)
  }

  override def getFileStatus(p: Path): FileStatus = {
    if (counted(p)) stats.incrementAndGet()
    super.getFileStatus(p)
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    if (counted(p)) {
      opens.incrementAndGet()
      if (p.getParent != null &&
          p.getParent.getName == graft.sources.WeatherLakeV2Sink.ManifestDir)
        manifestOpens.incrementAndGet()
    }
    super.open(p, bufferSize)
  }
}

object CountingLocalFs {
  @volatile var root: String = _
  val lists = new AtomicLong
  val stats = new AtomicLong
  val opens = new AtomicLong
  val manifestOpens = new AtomicLong

  /** Bytes read through every `file:` filesystem instance in the JVM. */
  def bytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  def snapshot(): Map[String, Double] = Map(
    "lake.lists" -> lists.get.toDouble,
    "lake.stats" -> stats.get.toDouble,
    "lake.opens" -> opens.get.toDouble,
    "lake.manifest_opens" -> manifestOpens.get.toDouble,
    "lake.bytes_read" -> bytesRead().toDouble)
}
