package graft.sinks

import org.scalatest.funsuite.AnyFunSuite

import LineProtocolLocal.{Field, Parsed}

/** The line-protocol parser ([[LineProtocolLocal]], the /write hot path and
  * the body of `q_line_protocol_parse`) against ground truth: a fixed
  * corpus covering every grammar feature plus hostile names, each line with
  * its expected parse, and a property over generated lines whose expected
  * measurement, tags, fields and timestamp come from the generator itself.
  */
class LineProtocolLocalSpec extends AnyFunSuite {

  private val nasty = Seq("plain", "with space", "with,comma", "k=v", "a b,c=d",
    "back\\slash", "__two  spaces")

  private val corpus: Seq[(String, Parsed)] = {
    val names = for { m <- nasty; a <- nasty } yield {
      val line = s"${m.replace(",", "\\,").replace(" ", "\\ ")} " +
        s"${a.replace(",", "\\,").replace(" ", "\\ ").replace("=", "\\=")}=3.25 1704067200000000000"
      line -> Parsed(m, Map.empty, Vector(Field(a, "3.25", Some(3.25))), Some(1704067200000000000L))
    }
    names ++ Seq(
      "cpu,host=a,dc=west usage=0.5,idle=99.1 1704067200000000000" ->
        Parsed("cpu", Map("host" -> "a", "dc" -> "west"),
          Vector(Field("usage", "0.5", Some(0.5)), Field("idle", "99.1", Some(99.1))),
          Some(1704067200000000000L)),
      "my\\ plc,unit=c temp=21.5 5000" ->
        Parsed("my plc", Map("unit" -> "c"), Vector(Field("temp", "21.5", Some(21.5))), Some(5000L)),
      "bare value=1.0" ->
        Parsed("bare", Map.empty, Vector(Field("value", "1.0", Some(1.0))), None),
      """disk,path\,0=/mnt\ data,k\=1=v\=2 used=10.5 100""" ->
        Parsed("disk", Map("path,0" -> "/mnt data", "k=1" -> "v=2"),
          Vector(Field("used", "10.5", Some(10.5))), Some(100L)),
      """log,host=a msg="warn, disk=\" 90%\" full",count=42i,load=0.5 200""" ->
        Parsed("log", Map("host" -> "a"),
          Vector(Field("msg", """warn, disk=" 90%" full""", None), Field("count", "42i", Some(42.0)),
            Field("load", "0.5", Some(0.5))), Some(200L)),
      """flag,host=b ok=true 300""" ->
        Parsed("flag", Map("host" -> "b"), Vector(Field("ok", "true", None)), Some(300L)),
      """str,host=c value="3.5" 400""" -> // quoted numeric: STRING-typed
        Parsed("str", Map("host" -> "c"), Vector(Field("value", "3.5", None)), Some(400L)),
      "neg,host=d delta=-42i,f=-1.5e3 500" ->
        Parsed("neg", Map("host" -> "d"),
          Vector(Field("delta", "-42i", Some(-42.0)), Field("f", "-1.5e3", Some(-1500.0))), Some(500L)),
      "m v=1" ->
        Parsed("m", Map.empty, Vector(Field("v", "1", Some(1.0))), None),
      "plc9,alias=temp value=21.5 1704067200000000000" ->
        Parsed("plc9", Map("alias" -> "temp"), Vector(Field("value", "21.5", Some(21.5))),
          Some(1704067200000000000L)))
  }

  test("parseLine gives every line of the grammar corpus its expected parse") {
    corpus.foreach { case (line, want) =>
      assert(LineProtocolLocal.parseLine(line) == Right(want), s"for '$line'")
    }
  }

  test("quoted string field values are never coerced to numbers") {
    // value="3.5" is a STRING on the wire — InfluxDB would store a string
    // field, never the float 3.5
    val local = LineProtocolLocal.parseLine("""m,alias=a value="3.5" 100""").toOption.get
    assert(local.fields == Vector(Field("value", "3.5", None)))
  }

  test("property: parseLine recovers the generated measurement, tags, fields and ts") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // names over the full separator alphabet (escaped on the wire);
    // trailing backslash excluded — the wire's own unrepresentable case
    val nameChar = Gen.frequency(
      (8, Gen.alphaNumChar), (1, Gen.const(' ')), (1, Gen.const(',')),
      (1, Gen.const('=')), (1, Gen.const('_')))
    val name = Gen.nonEmptyListOf(nameChar).map(_.mkString)
      .suchThat(s => !s.endsWith("\\") && s.trim.nonEmpty)
    def esc(s: String, eq: Boolean): String = {
      val base = s.replace(",", "\\,").replace(" ", "\\ ")
      if (eq) base.replace("=", "\\=") else base
    }
    // (wire text, expected string view, expected numeric view)
    val fieldVal: Gen[(String, String, Option[Double])] = Gen.oneOf(
      Gen.chooseNum(-1e6, 1e6).map { d => val t = f"$d%.3f"; (t, t, Some(t.toDouble)) },
      Gen.chooseNum(-99999L, 99999L).map(l => (s"${l}i", s"${l}i", Some(l.toDouble))),
      Gen.const(("true", "true", None)),
      Gen.alphaNumStr.map(s => ("\"" + s + "\"", s, None)))
    val genCase = for {
      m <- name
      nTags <- Gen.choose(0, 3)
      tags <- Gen.listOfN(nTags, Gen.zip(name, name))
      nFields <- Gen.choose(1, 4)
      fields <- Gen.listOfN(nFields, Gen.zip(name, fieldVal))
      ts <- Gen.option(Gen.choose(0L, 1800000000000000000L))
    } yield {
      val keyedTags = tags.zipWithIndex.map { case ((k, v), i) => s"$k$i" -> v }
      val keyedFields = fields.zipWithIndex.map { case ((k, v), i) => s"$k$i" -> v }
      val tagPart = keyedTags.map { case (k, v) => s",${esc(k, eq = true)}=${esc(v, eq = true)}" }.mkString
      val fieldPart = keyedFields.map { case (k, (wire, _, _)) => s"${esc(k, eq = true)}=$wire" }
        .mkString(",")
      val line = s"${esc(m, eq = false)}$tagPart $fieldPart${ts.map(" " + _).getOrElse("")}"
      line -> Parsed(m, keyedTags.toMap,
        keyedFields.map { case (k, (_, str, num)) => Field(k, str, num) }.toVector, ts)
    }
    val prop = Prop.forAll(genCase) { case (line, want) =>
      Prop(LineProtocolLocal.parseLine(line) == Right(want)) :| s"line '$line'"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("local parser rejects malformed lines with pointed reasons") {
    def reject(line: String): String =
      LineProtocolLocal.parseLine(line).swap.toOption
        .getOrElse(fail(s"'$line' should have been rejected"))
    assert(reject("plc9,alias=temp nonsense").contains("field"))
    assert(reject("").contains("measurement"))
    assert(reject("justname").contains("fields"))
    assert(reject("m,=v value=1").contains("tag"))
    assert(reject("m v=1 notanumber").contains("timestamp"))
  }
}
