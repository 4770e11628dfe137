package perfbench

import java.io.File
import java.nio.file.{Files => NFiles, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** File helpers over the run's scratch directory. */
object Files {
  def delete(path: String): Unit = {
    def rec(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rec)
      f.delete(): Unit
    }
    rec(new File(path))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = new File(from).toPath
    val dst = new File(to).toPath
    val walk = NFiles.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (NFiles.isDirectory(p)) NFiles.createDirectories(q)
      else NFiles.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  /** Data files of a parquet directory (no markers, no checksums). */
  def dataFiles(dir: String): Seq[Path] = {
    val root = new File(dir).toPath
    if (!NFiles.isDirectory(root)) Seq.empty
    else {
      val walk = NFiles.walk(root)
      try walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        NFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      finally walk.close()
    }
  }

  /** One data file as seen by a directory snapshot. */
  final case class Entry(path: String, bytes: Long, mtime: Long)

  def snapshot(dir: String): Set[Entry] =
    dataFiles(dir).map(p => Entry(p.toString, NFiles.size(p), NFiles.getLastModifiedTime(p).toMillis)).toSet
}
