package graftbench

import java.io.File
import java.nio.file.{Files => JFiles, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** File-system helpers for the benchmark's own scratch space. */
object Files {

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Regular files directly in `dir`: name -> (length, last modified). */
  def rootFiles(dir: String): Map[String, (Long, Long)] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isFile).map(f => f.getName -> (f.length, f.lastModified)).toMap

  /** Copies the tree under `from` to `to`, file by file. */
  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    val paths = JFiles.walk(src)
    try paths.iterator().asScala.foreach { p =>
      val dst = to.toPath.resolve(src.relativize(p).toString)
      if (JFiles.isDirectory(p)) JFiles.createDirectories(dst)
      else JFiles.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally paths.close()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(treeBytes).sum
    else f.length
}
