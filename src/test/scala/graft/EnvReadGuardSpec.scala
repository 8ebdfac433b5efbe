package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The program takes its settings from arguments and the Spark conf, not
  * from environment variables. The allowlisted files keep theirs:
  * `Verify` is the correctness dump's launcher, and the trainers keep
  * `SPARK_GRAFT_CPUS` because their frozen artifacts' merge order follows
  * the partition count.
  */
class EnvReadGuardSpec extends AnyFunSuite {

  private val root = new File("src/main/scala")
  private val allowed = Set("Verify.scala", "jobs/ClfTrain.scala", "jobs/PcaTrain.scala",
    "jobs/BpeTrain.scala", "jobs/TrainQuantizers.scala").map("graft/" + _)

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("only the allowlisted mains read the environment") {
    require(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath} is missing")
    val readers = scalaFiles(root).filter { f =>
      val src = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      src.contains("sys.env") || src.contains("System.getenv")
    }.map(f => root.toPath.relativize(f.toPath).toString.replace(File.separatorChar, '/'))
    assert(readers.filterNot(allowed).isEmpty,
      s"environment reads outside the allowlist: ${readers.filterNot(allowed).mkString(", ")}")
  }
}
