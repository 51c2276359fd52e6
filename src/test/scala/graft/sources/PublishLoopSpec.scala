package graft.sources

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** SnapshotStore has ONE optimistic publish loop (`publishAtHead`):
  * a hand-copied loop is a place the rebase attempt bound, the txn and
  * file fence guard, or a future counter or fault seam can silently
  * diverge. Only `retryOnConflict`, the caller-side backoff loop, may
  * loop beside it.
  */
class PublishLoopSpec extends AnyFunSuite {

  test("SnapshotStore loops and bounds rebase attempts only in publishAtHead") {
    val src = Paths.get("src/main/scala/graft/sources/SnapshotStore.scala")
    assert(Files.isRegularFile(src), s"$src not found")
    // comments may name the loop; only code counts
    val code = Files.readString(src)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
      .split("\n").toSeq
    val member = """^  (?:private |final |override )*def (\w+)""".r.unanchored
    // each line tagged with the class member (2-space indent) it sits in
    val owners = code.scanLeft("") { (owner, line) =>
      line match {
        case member(name) => name
        case _ => owner
      }
    }.tail
    val tagged = code.zip(owners)
    val loops = tagged.collect { case (l, o) if l.contains("while (true)") => o }
    assert(loops.sorted == Seq("publishAtHead", "retryOnConflict"),
      loops.mkString(", "))
    val attemptChecks = tagged.collect {
      case (l, o) if l.contains("RebaseAttempts") &&
        !l.contains("val RebaseAttempts") => o
    }
    assert(attemptChecks == Seq("publishAtHead"), attemptChecks.mkString(", "))
  }
}
