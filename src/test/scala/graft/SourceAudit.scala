package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** What the main sources SPELL, for the audit specs: each `src/main` source
  * file, and its text with comments dropped, so prose that names a
  * forbidden spelling is not a finding.
  */
object SourceAudit {

  private val root = Paths.get("src/main/scala")

  private val charLit = "'(\\\\.|[^\\\\])'".r

  /** Source text with `//` and `/* */` comments dropped; string and char
    * literals kept. */
  def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var inStr = false
    while (i < src.length) {
      val c = src.charAt(i)
      if (inStr) {
        out += c
        if (c == '\\' && i + 1 < src.length) { out += src.charAt(i + 1); i += 1 }
        else if (c == '"') inStr = false
        i += 1
      } else if (src.startsWith("\"\"\"", i)) { // raw string: copied whole
        val end = src.indexOf("\"\"\"", i + 3)
        var stop = if (end < 0) src.length else end + 3
        while (stop < src.length && src.charAt(stop) == '"') stop += 1 // """" closes on the last
        out ++= src.substring(i, stop); i = stop
      } else if (c == '\'' && charLit.findPrefixOf(src.substring(i)).isDefined) {
        val lit = charLit.findPrefixOf(src.substring(i)).get
        out ++= lit; i += lit.length
      } else if (src.startsWith("//", i)) {
        while (i < src.length && src.charAt(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2)
        i = if (end < 0) src.length else end + 2
      } else {
        if (c == '"') inStr = true
        out += c
        i += 1
      }
    }
    out.toString
  }

  /** Every `.scala` file under `src/main/scala`. */
  def mainSources: Seq[Path] = {
    require(Files.isDirectory(root), s"run from the project root: no $root")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }
}
