package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Every session comes from graft.Session: a second builder is how
  * entry points drifted apart on cores, partitions and registrations.
  */
class SessionBuilderSpec extends AnyFunSuite {

  test("no session builder outside graft/Session.scala") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    val sources = roots.flatMap(r => Using.resource(Files.walk(r))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList))
    val offenders = sources
      .filterNot(_.endsWith(Paths.get("graft", "Session.scala")))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
    assert(sources.exists(_.endsWith(Paths.get("graft", "Session.scala"))))
    assert(offenders.isEmpty, s"build sessions with graft.Session: ${offenders.mkString(", ")}")
  }
}
