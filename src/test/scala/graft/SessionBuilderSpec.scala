package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[GraftSession.local]], so the
  * contract confs (UTC, nanosAsLong, GraftExtensions, local dirs, AQE start
  * partitions) cannot drift between copies. */
class SessionBuilderSpec extends AnyFunSuite {
  test("only GraftSession calls SparkSession.builder() under src/main") {
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val callers = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && builder.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString).toSeq.sorted
    assert(callers === Seq("GraftSession.scala"))
  }
}
