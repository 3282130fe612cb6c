package perfbench

import java.io.File
import java.nio.file.{Files => JFiles, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import graft.io.PathGuard

/** Local file-tree helpers for the benchmark's scratch directory. Every
  * path the harness writes or deletes passes [[PathGuard]] first, as the
  * engine's own writes do.
  */
object Files {
  def writable(path: String): String = PathGuard.checkWritable(path)

  def delete(path: String): Unit = {
    val root = new File(writable(path)).toPath
    if (JFiles.exists(root)) {
      val s = JFiles.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(p => JFiles.delete(p))
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = new File(from).toPath
    val dst = new File(writable(to)).toPath
    val s = JFiles.walk(src)
    try s.iterator.asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (JFiles.isDirectory(p)) JFiles.createDirectories(q)
      else JFiles.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Parquet files under `dir` (relative path → bytes); checksums and
    * commit markers are not data and are left out.
    */
  def parquetFiles(dir: String): Map[String, Long] = {
    val root = new File(dir).toPath
    if (!JFiles.exists(root)) return Map.empty
    val s = JFiles.walk(root)
    try s.iterator.asScala
      .filter(p => JFiles.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map((p: Path) => root.relativize(p).toString -> JFiles.size(p)).toMap
    finally s.close()
  }

  def exists(path: String): Boolean = new File(path).exists()
}
