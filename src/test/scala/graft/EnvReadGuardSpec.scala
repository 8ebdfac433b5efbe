package graft

import org.scalatest.funsuite.AnyFunSuite

/** The program takes its settings from arguments and the Spark conf, not
  * from environment variables. The allowlisted files keep theirs:
  * `Verify` is the correctness dump's launcher, and the trainers keep
  * `SPARK_GRAFT_CPUS` because their frozen artifacts' merge order follows
  * the partition count.
  */
class EnvReadGuardSpec extends AnyFunSuite {

  private val allowed = Set("Verify.scala", "jobs/ClfTrain.scala", "jobs/PcaTrain.scala",
    "jobs/BpeTrain.scala", "jobs/TrainQuantizers.scala").map("graft/" + _)

  test("only the allowlisted mains read the environment") {
    val readers = SourceGuard.mainSources().collect {
      case (path, src) if src.contains("sys.env") || src.contains("System.getenv") => path
    }
    assert(readers.filterNot(allowed).isEmpty,
      s"environment reads outside the allowlist: ${readers.filterNot(allowed).mkString(", ")}")
  }
}
