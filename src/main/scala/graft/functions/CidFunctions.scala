package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar functions F1–F11 from SURVEY.md §2.9 — every row-level lambda
  * of the reference re-expressed as a native, codegen'd `Column`
  * expression (zero UDFs; these all stay inside whole-stage codegen).
  *
  * Reference behaviors: /root/reference/etl_cid10.py:11-21 (normalize /
  * root category), :80 (subcategory marker), :231 (range concat),
  * :249-258 (fixed-width subcategory dot insertion), :263 (3-char key).
  */
object CidFunctions {

  /** Python `str.strip()` whitespace set (the reference strips with it,
    * etl_cid10.py:11-21): ASCII whitespace + the C1/Unicode spaces that
    * `str.isspace()` accepts. Spark's SQL `trim()` strips only ' ', so
    * a regexp strip is needed for parity on tab/newline/NBSP-padded
    * codes (latin1 0xA0 appears in DataSUS-era files).
    */
  private[graft] val pyWs = "[ \\t\\n\\x0B\\f\\r\\x1C-\\x1F\\u0085\\u00A0" +
    "\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]"

  /** Strip leading/trailing Python-style whitespace. */
  def stripWs(c: Column): Column =
    regexp_replace(c, s"^$pyWs+|$pyWs+$$", "")

  /** F1: null-safe strip + upper. Null propagates like pd.isna → None. */
  def normalizeCode(c: Column): Column = upper(stripWs(c.cast("string")))

  /** F2: normalized code up to the first '.' (T65.9 → T65). */
  def extractRootCategory(c: Column): Column =
    substring_index(normalizeCode(c), ".", 1)

  /** F3: keep the code only when it is a dotted subcategory. */
  def subcategoryMarker(c: Column): Column =
    when(c.contains("."), c)

  /** F4: "START-END" range id from two bound columns. */
  def rangeId(start: Column, end: Column): Column =
    concat(trim(start.cast("string")), lit("-"), trim(end.cast("string")))

  /** F6: fixed-width subcategory → dotted form. A 4-char code whose 4th
    * char is non-blank becomes `abc.rest`; otherwise the 3-char root.
    * (Official files pad position 4 with a space when no subcategory
    * exists — etl_cid10.py:253-257.)
    */
  def formatSubcat(c: Column): Column = {
    val s = upper(trim(c.cast("string")))
    when(length(s) >= 4 && trim(substring(s, 4, 1)) =!= "",
        concat(substring(s, 1, 3), lit("."), substring(s, 4, 1000000)))
      .otherwise(substring(s, 1, 3))
  }

  /** F7: 3-char category key from a raw subcategory code (no trim —
    * the reference slices before upper, etl_cid10.py:263).
    */
  def categoryKeyOf(c: Column): Column =
    upper(substring(c.cast("string"), 1, 3))
}
