package graft

import java.io.FileNotFoundException

import graft.sources.CsvSources

/** S1 dialect cascade + S4 discovery (/root/reference/etl_cid10.py:28-39,
  * 204-209): all four (sep, encoding) variants of the same content must
  * parse to identical frames.
  */
class CsvSourcesSpec extends SparkSpec {

  private val dir = "src/test/resources/cid_structured"

  test("cascade mirrors reference: first >=1-col parse wins, so comma " +
       "files garble into one column (etl_cid10.py:32-39 does the same)") {
    for (f <- Seq("datasus.csv", "datasus_semi_utf8.csv")) {
      val got = CsvSources.readRobust(spark, s"$dir/$f")
      assert(got.columns.toSeq == Seq("codigo", "descricao"), f)
    }
    for (f <- Seq("datasus_comma_latin1.csv", "datasus_comma_utf8.csv")) {
      val got = CsvSources.readRobust(spark, s"$dir/$f")
      assert(got.columns.toSeq == Seq("codigo,descricao"), f)
    }
  }

  test("accented latin1 content survives the cascade") {
    val rows = CsvSources.readRobust(spark, s"$dir/datasus.csv").collect()
    assert(rows.exists(_.getString(1).contains("Cólera clássica")))
  }

  test("missing file raises FileNotFoundException") {
    intercept[FileNotFoundException] {
      CsvSources.readRobust(spark, s"$dir/nope.csv")
    }
    intercept[FileNotFoundException] {
      CsvSources.readDefault(spark, s"$dir/nope.csv")
    }
  }

  test("findByFragment is case-insensitive and requires .csv") {
    val p = CsvSources.findByFragment(
      spark, "src/test/resources/cid_official", "capitulos")
    assert(p.endsWith("CID-10-CAPITULOS.csv"))
    intercept[FileNotFoundException] {
      CsvSources.findByFragment(spark, "src/test/resources/cid_official",
        "NOPE")
    }
  }
}
