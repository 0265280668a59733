package graft

import org.apache.spark.sql.functions._

import graft.functions.CidFunctions._

/** F1–F11 expression equivalence incl. null / whitespace / 4th-char
  * edge cases (/root/reference/etl_cid10.py:11-21, 249-258).
  */
class CidFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def eval1(c: org.apache.spark.sql.Column, v: String): Any = {
    val r = Seq(Option(v)).toDF("v").select(c).collect()(0)
    if (r.isNullAt(0)) null else r.get(0)
  }

  test("normalizeCode trims, uppercases, propagates null") {
    assert(eval1(normalizeCode($"v"), "  t65.9 ") == "T65.9")
    assert(eval1(normalizeCode($"v"), null) == null)
    assert(eval1(normalizeCode($"v"), "a00") == "A00")
  }

  test("extractRootCategory keeps text before first dot") {
    assert(eval1(extractRootCategory($"v"), "T65.9") == "T65")
    assert(eval1(extractRootCategory($"v"), " a00.0 ") == "A00")
    assert(eval1(extractRootCategory($"v"), "A00") == "A00")
    assert(eval1(extractRootCategory($"v"), null) == null)
  }

  test("subcategoryMarker keeps only dotted codes") {
    assert(eval1(subcategoryMarker($"v"), "A00.0") == "A00.0")
    assert(eval1(subcategoryMarker($"v"), "A00") == null)
    assert(eval1(subcategoryMarker($"v"), null) == null)
  }

  test("formatSubcat inserts dot after 3rd char when 4th is non-blank") {
    assert(eval1(formatSubcat($"v"), "A000") == "A00.0")
    assert(eval1(formatSubcat($"v"), "t651") == "T65.1")
    // official files pad position 4 with a space when no subcategory
    assert(eval1(formatSubcat($"v"), "A00 ") == "A00")
    assert(eval1(formatSubcat($"v"), "A00") == "A00")
    assert(eval1(formatSubcat($"v"), "A0005") == "A00.05")
    assert(eval1(formatSubcat($"v"), null) == null)
  }

  test("categoryKeyOf takes raw 3-char prefix uppercased (no trim)") {
    assert(eval1(categoryKeyOf($"v"), "a150") == "A15")
    assert(eval1(categoryKeyOf($"v"), "A00 ") == "A00")
    assert(eval1(categoryKeyOf($"v"), "A0") == "A0")
  }

  test("rangeId concatenates trimmed bounds") {
    val df = Seq((" A00 ", "A09")).toDF("s", "e")
    assert(df.select(rangeId($"s", $"e")).collect()(0).getString(0) == "A00-A09")
  }

  test("normalizeCode is idempotent (property)") {
    // CidEtl.consolidate relies on this: both branches emit normalized
    // codes, so the union is not normalized again.
    val ws = (0 to 0xFFFF).map(_.toChar.toString).filter(_.matches(pyWs))
    assert(ws.contains("\u00A0") && ws.contains("\u3000") && ws.size == 29)
    val special = Seq("ß", "ŉ", "ı", "İ", "i\u0307", "ǅ", "ﬀ", "𝔞")
    val latin1 = Seq("cólera clássica", "Ação", "ÿ", "a00.0", "T65.9")
    val rnd = new scala.util.Random(11)
    val alphabet = ws ++ special ++ Seq("a", "B", ".", "0", "é", "Ö")
    val random = Seq.fill(2000)(
      Seq.fill(rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    val everyChar = (0 to 0xFFFF).filterNot(c => c >= 0xD800 && c <= 0xDFFF)
      .map(_.toChar.toString)
    val samples: Seq[String] = Seq("a00.0", " T65 ", "z99.9  ", "A", "",
      "0x.Y", "aBc.dE", "\u00A0a00.0\u00A0", null) ++
      ws.flatMap(w => Seq(w, s"${w}x$w", s"$w$w", s"a$w.b")) ++
      (special ++ latin1).flatMap(t =>
        Seq(t, t.toUpperCase, s"\u00A0$t\u00A0", s" $t\t")) ++
      random ++ everyChar ++ everyChar.map(c => s"\u00A0$c ")
    val df = samples.map(Option(_)).toDF("v")
      .select(normalizeCode($"v").as("once"))
      .select($"once", normalizeCode($"once").as("twice"))
    val broken = df.filter(!($"once" <=> $"twice")).collect()
    assert(broken.isEmpty, broken.take(5).mkString(", "))
    assert(df.filter($"once".isNull).count() == 1) // only the null input
  }
}
