package graft.sinks

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceAudit.{code, mainSources}

/** What the main sources SPELL, not what they do: the point store's
  * directory layout is decided in one module, [[StoreLayout]]. No other
  * file under `src/main` may name a `measurement=` or `date=` path, rename
  * a file or directory, or delete a directory tree — each of those is a
  * second place where the layout or its commit protocol could drift, and
  * where a crash window could open that `StoreLayout.recover` knows
  * nothing of.
  */
class StoreLayoutAuditSpec extends AnyFunSuite {

  private val owner = Paths.get("src/main/scala/graft/sinks/StoreLayout.scala")

  private val pathLiteral = "(?<![A-Za-z0-9_])(measurement|date)=(?!=)".r
  private val rename = """\.renameTo\(|Files\.move\(""".r
  private val treeDelete =
    """deleteRecursively|FileUtils\.(delete|forceDelete|cleanDirectory)|walkFileTree|Files\.walk\(|foreach\(_\.delete\(\)\)|\.delete\([^\n]*,\s*true\)""".r

  /** Methods that delete and call themselves: a hand-rolled rmTree. */
  private def recursiveDeletes(c: String): Seq[String] =
    "\\bdef\\s+(\\w+)".r.findAllMatchIn(c).toSeq.flatMap { m =>
      val name = m.group(1)
      val next = "\\bdef\\s".r.findFirstMatchIn(c.substring(m.end)).map(m.end + _.start)
      val body = c.substring(m.end, next.getOrElse(c.length))
      val selfCalls = s"\\b${java.util.regex.Pattern.quote(name)}\\b".r.findAllIn(body).size
      if (body.contains(".delete()") && selfCalls >= 1) Some(s"def $name") else None
    }

  /** Every forbidden spelling in one source, as (kind, text). */
  private def findings(src: String): Seq[(String, String)] = {
    val c = code(src)
    pathLiteral.findAllIn(c).map("layout path" -> _).toSeq ++
      rename.findAllIn(c).map("rename" -> _) ++
      treeDelete.findAllIn(c).map("tree delete" -> _) ++
      recursiveDeletes(c).map("tree delete" -> _)
  }

  test("the audit recognizes each spelling it forbids") {
    val spellings = Seq(
      "val ms = d.listFiles().filter(_.getName.startsWith(\"measurement=\"))",
      "val p = new File(store, s\"measurement=$m/date=$d\")",
      "if (!tmp.renameTo(dd)) throw new IOException()",
      "java.nio.file.Files.move(f.toPath, to.toPath)",
      "def rmTree(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rmTree); f.delete() }",
      "Option(tmp.listFiles()).getOrElse(Array.empty).foreach(_.delete())",
      "fs.delete(new Path(dir), true)")
    spellings.foreach(s => assert(findings(s).nonEmpty, s))
    // comments are prose, not layout decisions
    assert(findings("/** the `measurement=…/date=…` layout; renameTo */\n// rmTree(dir)\nval x = 1").isEmpty)
  }

  test("only StoreLayout spells the store's paths, renames, or deletes a directory tree") {
    val bad = mainSources.filterNot(_ == owner).flatMap { p =>
      findings(Files.readString(p)).map { case (kind, text) => s"$p: $kind `$text`" }
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    val own = code(Files.readString(owner))
    assert(own.contains("\"measurement\"") && own.contains("Files.move(") &&
      recursiveDeletes(own) == Seq("def rmTree"), "StoreLayout no longer holds the layout")
  }

  test("src/main holds one rmTree and no __tmp swap") {
    val all = mainSources.map(p => code(Files.readString(p))).mkString("\n")
    assert("\\bdef\\s+rmTree\\b".r.findAllIn(all).size == 1)
    assert(!all.contains("__tmp"))
  }
}
