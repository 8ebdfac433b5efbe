package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-side concurrency goes through [[Branches]], which awaits every
  * branch before it returns or rethrows. A pool awaited through a fail-fast
  * `Future.sequence` returns on the first failure while sibling jobs still
  * run, and the caller then releases caches under them.
  */
class ThreadPoolGuardSpec extends AnyFunSuite {

  test("only Branches makes thread pools or awaits futures") {
    val offenders = SourceGuard.mainSources().collect {
      case (path, src) if path != "graft/Branches.scala" &&
          (src.contains("Executors.new") || src.contains("Future.sequence")) => path
    }
    assert(offenders.isEmpty, s"thread pools outside Branches: ${offenders.mkString(", ")}")
  }
}
