package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.w3c.dom.Element

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import javax.xml.parsers.DocumentBuilderFactory

/** One tag (sensor address) of the PLC tag catalog — the reference's
  * `my_data` row (Linux/InfluxConnector2.py:33-54).
  */
case class TagConfig(
    plc: String,
    slot: Int,
    dataType: String,
    area: String,
    address: String,
    alias: String,
    active: Boolean,
    interval: String)

/** XML tag-catalog scan (SURVEY.md §2.1 S1) — the reference's
  * `create_my_data_groups` config read (Linux/InfluxConnector2.py:250-270,
  * schema written by ConfigApp/ConfigApp.py:54-84):
  *
  *   <communication>
  *     <plc slot="1">10.0.0.1
  *       <data><data_type>…</data_type><area>…</area><address>…</address>
  *             <alias>…</alias><active>…</active><interval>…</interval></data>
  *     </plc>
  *   </communication>
  *
  * Children are read positionally (data[0..5] — InfluxConnector2.py:261)
  * to replicate observable reference behavior; coercion is typed casts,
  * never the reference's eval() (InfluxConnector2.py:47-51). The catalog
  * is a small dimension — parsed on the driver via JDK DOM (scala-xml is
  * not on the offline classpath); ingest hands it to the device source,
  * which polls only the active tags under their aliases
  * ([[S7SimSource]]'s `catalog` option).
  */
object ConfigXml {

  def parseString(xml: String): Seq[TagConfig] = {
    val dbf = DocumentBuilderFactory.newInstance()
    // No DTDs/entities in the catalog format; disable for safety.
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder()
      .parse(new ByteArrayInputStream(xml.getBytes(StandardCharsets.UTF_8)))
    val plcs = doc.getDocumentElement.getChildNodes
    (0 until plcs.getLength).map(plcs.item).collect {
      case plc: Element if plc.getTagName == "plc" =>
        // The PLC IP is the element's own text (mixed content before <data>).
        val ip = firstText(plc)
        val slot = Option(plc.getAttribute("slot")).filter(_.nonEmpty).getOrElse("1").trim.toInt
        val datas = plc.getChildNodes
        (0 until datas.getLength).map(datas.item).collect {
          case d: Element if d.getTagName == "data" =>
            val kids = d.getChildNodes
            val fields = (0 until kids.getLength).map(kids.item).collect {
              case e: Element => e.getTextContent.trim
            }
            // Positional schema: type, area, address, alias, active, interval
            // (InfluxConnector2.py:261). Missing interval (Windows variant,
            // Windows/InfluxConnector2.py:35-43) defaults to 'min'.
            TagConfig(ip, slot, fields(0), fields(1), fields(2), fields(3),
              parseBool(fields(4)), if (fields.length > 5) fields(5) else "min")
        }
    }.flatten
  }

  def parseFile(path: String): Seq[TagConfig] =
    parseString(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      StandardCharsets.UTF_8))

  /** Load the catalog as a typed Dataset — a broadcastable dimension. */
  def load(spark: SparkSession, xml: String): Dataset[TagConfig] = {
    import spark.implicits._
    spark.createDataset(parseString(xml))
  }

  private def firstText(e: Element): String = {
    val kids = e.getChildNodes
    (0 until kids.getLength).map(kids.item)
      .collectFirst { case t if t.getNodeType == org.w3c.dom.Node.TEXT_NODE && t.getTextContent.trim.nonEmpty =>
        t.getTextContent.trim }
      .getOrElse("")
  }

  private def parseBool(s: String): Boolean = s.trim.equalsIgnoreCase("true")

  // ---- catalog WRITE lifecycle (SURVEY §2.1 S1, the ConfigApp role) -------
  // The reference manages the same file through a PySimpleGUI editor
  // (ConfigApp/ConfigApp.py): update_config appends a <data> entry
  // (creating the <plc> when new, :54-84), update_element rewrites the
  // entry matching (plc, alias) in place (:155-176), delete_element
  // removes it (:138-153). These are the headless equivalents, so the
  // full config lifecycle — author → daemon read → enrich — runs without
  // the GUI. Text is XML-escaped on write (the reference writes raw; an
  // alias holding '<' would corrupt its file).

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Serialize a catalog to the ConfigApp document shape (tag names from
    * ConfigApp.py:61-67; readers are positional so names are cosmetic,
    * but round-tripping through the reference's own GUI must work).
    * PLCs group in first-seen order.
    */
  def render(tags: Seq[TagConfig]): String = {
    val sb = new StringBuilder("<communication>")
    for (((plc, slot), ts) <- groupInOrder(tags)) {
      sb ++= s"""<plc slot="$slot">${escape(plc)}"""
      for (t <- ts) {
        sb ++= "<data>"
        sb ++= s"<data_type>${escape(t.dataType)}</data_type>"
        sb ++= s"<data_area>${escape(t.area)}</data_area>"
        sb ++= s"<data_address>${escape(t.address)}</data_address>"
        sb ++= s"<data_alias>${escape(t.alias)}</data_alias>"
        sb ++= s"<active>${t.active}</active>"
        sb ++= s"<interval>${escape(t.interval)}</interval>"
        sb ++= "</data>"
      }
      sb ++= "</plc>"
    }
    (sb ++= "</communication>").result()
  }

  private def groupInOrder(tags: Seq[TagConfig]): Seq[((String, Int), Seq[TagConfig])] = {
    val keys = tags.map(t => (t.plc, t.slot)).distinct
    keys.map(k => k -> tags.filter(t => (t.plc, t.slot) == k))
  }

  private def rewrite(path: String)(f: Seq[TagConfig] => Seq[TagConfig]): Unit = {
    val cur =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) parseFile(path)
      else Seq.empty
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      render(f(cur))): Unit
  }

  /** ConfigApp `update_config`: APPEND the entry (duplicates allowed,
    * like the GUI), creating the file / the PLC group as needed.
    */
  def addTag(path: String, tag: TagConfig): Unit =
    rewrite(path)(_ :+ tag)

  /** ConfigApp `update_element`: rewrite every entry matching
    * (plc, alias) with the new values (alias may change).
    */
  def updateTag(path: String, plc: String, alias: String, to: TagConfig): Unit =
    rewrite(path)(_.map(t => if (t.plc == plc && t.alias == alias) to else t))

  /** ConfigApp `delete_element`: drop every entry matching (plc, alias);
    * an emptied PLC group disappears from the document.
    */
  def deleteTag(path: String, plc: String, alias: String): Unit =
    rewrite(path)(_.filterNot(t => t.plc == plc && t.alias == alias))

  /** ConfigApp `get_actual_plcs` / `get_data_aliases` — the GUI's pick
    * lists.
    */
  def listPlcs(path: String): Seq[String] =
    parseFile(path).map(_.plc).distinct
  def listAliases(path: String, plc: String): Seq[String] =
    parseFile(path).filter(_.plc == plc).map(_.alias)
}
