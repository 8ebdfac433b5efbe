package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The program's sources for the guard specs: each file under
  * `src/main/scala` as (path relative to it, with `/` separators; text). */
object SourceGuard {
  private val root = new File("src/main/scala")

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  def mainSources(): Seq[(String, String)] = {
    require(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath} is missing")
    scalaFiles(root).map { f =>
      (root.toPath.relativize(f.toPath).toString.replace(File.separatorChar, '/'),
        new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
    }
  }
}
