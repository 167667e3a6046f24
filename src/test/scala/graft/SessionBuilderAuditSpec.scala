package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceAudit.{code, mainSources}

/** Every graft main starts its session from [[GraftSession.builder]]: no
  * other file under `src/main` spells `SparkSession.builder`, so no main
  * can drift to a conf set of its own.
  */
class SessionBuilderAuditSpec extends AnyFunSuite {

  private val owner = Paths.get("src/main/scala/graft/GraftSession.scala")
  private val spelling = """SparkSession\s*\.\s*builder\b""".r

  private def spells(src: String): Boolean = spelling.findFirstIn(code(src)).nonEmpty

  test("the audit recognizes the builder across a line break, and not in a comment") {
    assert(spells("val spark = SparkSession.builder().getOrCreate()"))
    assert(spells("val spark = SparkSession\n  .builder()\n  .getOrCreate()"))
    assert(!spells("/** built by SparkSession.builder */\n// SparkSession.builder()\nval x = 1"))
  }

  test("SparkSession.builder is spelled in one src/main file, GraftSession") {
    val files = mainSources.filter(p => spells(Files.readString(p)))
    assert(files == Seq(owner), files.mkString("\n", "\n", ""))
  }
}
