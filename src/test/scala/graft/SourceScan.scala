package graft

import org.scalatest.Assertions.assert
import scala.jdk.CollectionConverters._

/** The source scan behind the specs that pin where a construct may
  * appear in main code (one cache call, one lineage cut, one tokenizer). */
object SourceScan {

  /** `file:line: text` of every line under `root` matching `banned`,
    * outside the `allowed` files. */
  def offenders(root: java.io.File, banned: scala.util.matching.Regex,
      allowed: Set[java.io.File]): Seq[String] = {
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val all = files(root)
    allowed.foreach(a => assert(all.exists(_.getCanonicalFile == a.getCanonicalFile),
      s"$a not found"))
    for {
      f <- all if !allowed.exists(_.getCanonicalFile == f.getCanonicalFile)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
  }
}
