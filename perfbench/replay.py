"""DuckDB SQL replay of the CID-10 ETL, the correctness check of the ETL
workloads.

It reads the same generated CSVs, reproduces the pipeline in SQL (first-
match range joins in file order, priority dedup with the engine's total-
order tiebreak, run date pinned) and renders the expected output rows.
`check_output` then compares an engine output file against it: the BOM,
the quoted header bytes, an order-independent row hash and the `Quality`
counters the CLI prints.
"""
import csv
import hashlib
import re
from pathlib import Path

import duckdb
import pyarrow as pa

OUTPUT_COLS = ["cid_codigo", "cid_categoria", "cid_subcategoria", "titulo",
               "descricao", "capitulo_codigo", "capitulo_titulo",
               "bloco_codigo", "bloco_titulo", "fonte", "dt_atualizacao"]
BOM = b"\xef\xbb\xbf"
HEADER = ";".join(f'"{c}"' for c in OUTPUT_COLS).encode() + b"\n"

# CidFunctions.stripWs: Python's str.strip() whitespace set.
_WS = ("[ \\t\\n\\x0B\\f\\r\\x1C-\\x1F\\x{0085}\\x{00A0}\\x{1680}"
       "\\x{2000}-\\x{200A}\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}]")
MACROS = f"""
CREATE MACRO norm(x) AS upper(regexp_replace(x, '^{_WS}+|{_WS}+$', '', 'g'));
CREATE MACRO strim(x) AS trim(x, ' ');
CREATE MACRO range_id(a, b) AS strim(a) || '-' || strim(b);
CREATE MACRO marker(x) AS CASE WHEN contains(x, '.') THEN x END;
CREATE MACRO format_subcat(x) AS CASE
  WHEN length(upper(strim(x))) >= 4 AND strim(substring(upper(strim(x)), 4, 1)) <> ''
  THEN substring(upper(strim(x)), 1, 3) || '.' || substring(upper(strim(x)), 4)
  ELSE substring(upper(strim(x)), 1, 3) END;
"""

# categoryMap (with the chapter_code coalesce when blocks carry one) and
# the structured branch.
STRUCTURED = """
CREATE VIEW cats AS
SELECT c.category_code, c.category_title, c.block_id,
       coalesce(c.chapter_code, b.chapter_code) AS chapter_code,
       ch.chapter_title, b.block_title
FROM categories c
LEFT JOIN chapters ch ON c.chapter_code = ch.chapter_code
LEFT JOIN blocks b ON c.block_id = b.block_id;

CREATE VIEW structured AS
SELECT norm(s.subcategory_code) AS cid_codigo,
       norm(s.category_code) AS cid_categoria,
       marker(norm(s.subcategory_code)) AS cid_subcategoria,
       s.subcategory_title AS titulo, s.subcategory_title AS descricao,
       k.chapter_code AS capitulo_codigo, k.chapter_title AS capitulo_titulo,
       k.block_id AS bloco_codigo, k.block_title AS bloco_titulo,
       'Estruturada' AS fonte
FROM subcats s LEFT JOIN cats k ON s.category_code = k.category_code;
"""

# The DATASUS branch.
ENRICHED = """
CREATE VIEW enriched AS
SELECT norm(d.codigo) AS cid_codigo,
       split_part(norm(d.codigo), '.', 1) AS cid_categoria,
       marker(norm(d.codigo)) AS cid_subcategoria,
       d.descricao AS titulo, d.descricao AS descricao,
       k.chapter_code AS capitulo_codigo, k.chapter_title AS capitulo_titulo,
       k.block_id AS bloco_codigo, k.block_title AS bloco_titulo,
       'DATASUS' AS fonte
FROM datasus d
LEFT JOIN (SELECT norm(category_code) AS category_code, block_id, block_title,
                  chapter_code, chapter_title FROM cats) k
  ON split_part(norm(d.codigo), '.', 1) = k.category_code;
"""

# The priority dedup, run date pinned.
CONSOLIDATED = """
CREATE VIEW consolidated AS
SELECT * EXCLUDE (rn), $run_date AS dt_atualizacao FROM (
  SELECT u.* REPLACE (norm(u.cid_codigo) AS cid_codigo),
    row_number() OVER (PARTITION BY norm(u.cid_codigo) ORDER BY
      u.fonte DESC, u.cid_categoria ASC NULLS LAST,
      u.cid_subcategoria ASC NULLS LAST, u.titulo ASC NULLS LAST,
      u.descricao ASC NULLS LAST, u.capitulo_codigo ASC NULLS LAST,
      u.capitulo_titulo ASC NULLS LAST, u.bloco_codigo ASC NULLS LAST,
      u.bloco_titulo ASC NULLS LAST) AS rn
  FROM (SELECT * FROM structured UNION ALL BY NAME SELECT * FROM enriched) u)
WHERE rn = 1;
"""

# Dir mode: the hierarchy rebuilt from the four official files.
OFFICIAL = """
CREATE VIEW chapter_ranges AS
SELECT upper(strim(CATINIC)) AS lo, upper(strim(CATFIM)) AS hi,
       range_id(CATINIC, CATFIM) AS chapter_code,
       strim(DESCRICAO) AS chapter_title, ord FROM cap;
CREATE VIEW block_ranges AS
SELECT upper(strim(CATINIC)) AS lo, upper(strim(CATFIM)) AS hi,
       range_id(CATINIC, CATFIM) AS block_id,
       strim(DESCRICAO) AS block_title, ord FROM grp;
CREATE VIEW chapters AS SELECT chapter_code, chapter_title FROM chapter_ranges;
CREATE VIEW cats0 AS
SELECT upper(strim(CAT)) AS category_code, strim(DESCRICAO) AS category_title
FROM cat;
CREATE VIEW categories AS
SELECT c.category_code, c.category_title,
  (SELECT arg_min(b.block_id, b.ord) FROM block_ranges b
    WHERE c.category_code BETWEEN b.lo AND b.hi) AS block_id,
  (SELECT arg_min(r.chapter_code, r.ord) FROM chapter_ranges r
    WHERE c.category_code BETWEEN r.lo AND r.hi) AS chapter_code
FROM cats0 c;
CREATE VIEW blocks AS
SELECT b.block_id, b.block_title,
  (SELECT arg_min(r.chapter_code, r.ord) FROM chapter_ranges r
    WHERE b.lo BETWEEN r.lo AND r.hi OR b.hi BETWEEN r.lo AND r.hi) AS chapter_code
FROM block_ranges b;
CREATE VIEW subcats AS
SELECT format_subcat(SUBCAT) AS subcategory_code,
       strim(DESCRICAO) AS subcategory_title,
       upper(substring(SUBCAT, 1, 3)) AS category_code FROM sub;
"""

# Combined mode: blocks.csv carries no chapter_code.
COMBINED = """
CREATE VIEW blocks AS
SELECT block_id, block_title, NULL::VARCHAR AS chapter_code FROM blocks_raw;
"""


def _load(con, name, path, sep, encoding):
    """Register a CSV as a table of strings, empty cells as NULL (Spark's
    CSV reader default), with its 0-based line order as `ord`."""
    with open(path, newline="", encoding=encoding) as f:
        rows = list(csv.reader(f, delimiter=sep))
    header, body = rows[0], rows[1:]
    cols = {h: [r[i] if i < len(r) and r[i] != "" else None for r in body]
            for i, h in enumerate(header)}
    cols["ord"] = list(range(len(body)))
    con.register(name + "_arrow", pa.table(cols))
    con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_arrow")


def _render_sql():
    cells = " || ';' || ".join(
        f"'\"' || replace(coalesce({c}, ''), '\"', '\"\"') || '\"'"
        for c in OUTPUT_COLS)
    return f"SELECT {cells} FROM consolidated"


def _connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(MACROS)
    return con


def load_official(in_dir):
    """Dir mode up to both branches (views `structured`, `enriched`)."""
    con = _connect()
    for name, frag in [("cap", "CAPITULOS"), ("grp", "GRUPOS"),
                       ("cat", "CATEGORIAS"), ("sub", "SUBCATEGORIAS")]:
        _load(con, name, f"{in_dir}/CID-10-{frag}.csv", ";", "latin1")
    con.execute(OFFICIAL)
    con.execute(STRUCTURED)
    # S5 self-enrichment: the DATASUS branch is the structured branch itself.
    con.execute("CREATE VIEW datasus AS "
                "SELECT cid_codigo AS codigo, descricao FROM structured")
    con.execute(ENRICHED)
    return con


def load_combined(paths):
    """Combined mode up to both branches (views `structured`, `enriched`)."""
    con = _connect()
    _load(con, "datasus", paths["datasus"], ";", "latin1")
    _load(con, "chapters", paths["chapters"], ",", "utf-8")
    _load(con, "blocks_raw", paths["blocks"], ",", "utf-8")
    _load(con, "categories", paths["categories"], ",", "utf-8")
    _load(con, "subcats", paths["subcategories"], ",", "utf-8")
    con.execute(COMBINED)
    con.execute(STRUCTURED)
    con.execute(ENRICHED)
    return con


def expected(con, run_date):
    """The consolidated rows as the sink renders them, and the Quality
    counters."""
    con.execute(CONSOLIDATED.replace("$run_date", "'" + run_date + "'"))
    lines = [r[0].encode("utf-8") for r in con.execute(_render_sql()).fetchall()]
    total, missing = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE bloco_codigo IS NULL "
        "OR capitulo_codigo IS NULL) FROM consolidated").fetchone()
    return {"lines": lines, "total": total, "missing": missing}


def row_hash(lines):
    """Order-independent hash of a multiset of rows."""
    acc = 0
    for line in lines:
        acc = (acc + int.from_bytes(hashlib.md5(line).digest()[:8], "little")) % (1 << 64)
    return f"{len(lines)}:{acc:016x}"


def run_date_of(path):
    """The dt_atualizacao the engine stamped, read from its first row."""
    with open(path, "rb") as f:
        f.readline()
        m = re.search(rb'"(\d{4}-\d{2}-\d{2})"\s*$', f.readline())
    return m.group(1).decode() if m else None


def quality_counters(stdout_text):
    """[total, missingHierarchy] as the CLI prints them."""
    return [int(x) for x in re.findall(r": (\d+)\s*$", stdout_text, re.M)[:2]]


def check_output(out_path, stdout_text, expected):
    """Mismatches between one engine run and the replay; [] when it
    matches."""
    errors = []
    data = Path(out_path).read_bytes()
    if not data.startswith(BOM):
        errors.append("missing UTF-8 BOM")
    if not data[len(BOM):].startswith(HEADER):
        errors.append("header bytes differ")
    body = data[len(BOM) + len(HEADER):]
    lines = body.split(b"\n")
    if lines and lines[-1] == b"":
        lines.pop()
    if row_hash(lines) != expected.setdefault("hash", row_hash(expected["lines"])):
        want = set(expected["lines"])
        extra = [l for l in lines if l not in want][:3]
        errors.append(f"row hash differs ({len(lines)} rows vs "
                      f"{len(expected['lines'])}; e.g. unexpected {extra})")
    counters = quality_counters(stdout_text)
    if counters != [expected["total"], expected["missing"]]:
        errors.append(f"Quality counters {counters} != "
                      f"{[expected['total'], expected['missing']]}")
    return errors
