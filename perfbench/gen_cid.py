"""Seeded, deterministic CID-10 input generator for the ETL workloads.

The same seed always gives the same bytes. The inputs cover the edge
cases the engine's goldens pin:

* overlapping block ranges, so first-match in file order decides;
* blocks and categories that fall outside every chapter or block range;
* subcategory codes with a blank 4th position ("A00 "), lowercase codes
  and trailing padding;
* messy DATASUS codes (lowercase, blank/NBSP/tab padded, missing dot);
* titles with accents, commas and mid-field double quotes.

No two output rows tie on (code, source): every normalized code is unique
within its source, so the dedup result does not depend on the tiebreak.
"""
import csv
import io
import random
import string
from pathlib import Path

# Real CID-10 dimension sizes.
N_CHAPTERS = 22
N_BLOCKS = 275
N_CATEGORIES = 2045
N_SUBCATEGORIES = 12400

WORDS = ("doença infecção crônica aguda lábio pulmão ósseo múltipla síndrome "
         "tóxico ação lesão neoplasia maligna benigna sequelas órgão "
         "transtorno mental intestinal respiratória úlcera fígado coração "
         "cérebro não especificada outras complicações gestação "
         "hemorragia traumatismo queimadura envenenamento").split()


def _title(rng, n_min=2, n_max=6, quotes=True):
    words = [rng.choice(WORDS) for _ in range(rng.randint(n_min, n_max))]
    t = " ".join(words)
    r = rng.random()
    if r < 0.08:
        t += ", " + rng.choice(WORDS)
    elif r < 0.10 and quotes:
        # Mid-field quotes only: Spark's CSV reader escapes with '\\', so
        # a quoted field holding doubled quotes would not round-trip.
        t += ' "e seus sais"'
    return t[0].upper() + t[1:]


def _slot_code(i):
    return string.ascii_uppercase[i // 100] + f"{i % 100:02d}"


def hierarchy(seed):
    """The chapter ranges, block ranges, category codes and subcategory
    codes shared by both workloads, as plain Python values."""
    rng = random.Random(seed)
    slots = 26 * 100
    starts = sorted(rng.sample(range(1, slots), N_CHAPTERS - 1))
    starts = [0] + starts
    chapters = []
    for i, s in enumerate(starts):
        end = (starts[i + 1] if i + 1 < len(starts) else slots) - 1
        # A few chapters stop short, leaving slots outside every chapter.
        if rng.random() < 0.3 and end - s > 40:
            end -= rng.randint(3, 20)
        chapters.append((s, end))

    blocks = []
    per = N_BLOCKS // N_CHAPTERS
    for (s, e) in chapters:
        cuts = sorted(rng.sample(range(s + 1, e + 1), min(per - 1, e - s)))
        bounds = [s] + cuts + [e + 1]
        for j in range(len(bounds) - 1):
            lo, hi = bounds[j], bounds[j + 1] - 1
            if rng.random() < 0.1 and hi > lo:
                hi -= 1  # gap: categories with a chapter but no block
            blocks.append((lo, hi))
    # Wide ranges overlapping earlier narrow ones. Inserted after them they
    # lose the first match; inserted before them they win it. A few cross
    # chapter boundaries, so block -> chapter needs either bound.
    for _ in range(N_BLOCKS - len(blocks)):
        lo = rng.randrange(0, slots - 60)
        wide = (lo, lo + rng.randint(15, 60))
        if wide in blocks:
            continue
        if rng.random() < 0.5:
            blocks.append(wide)
        else:
            blocks.insert(rng.randrange(len(blocks)), wide)

    cats = sorted(rng.sample(range(slots), N_CATEGORIES))
    # Subcategories: 4th position digit, or the blank root "A00 ".
    subs = []
    for c in cats:
        for d in rng.sample(range(10), rng.randint(3, 9)):
            subs.append((c, str(d)))
        if rng.random() < 0.15:
            subs.append((c, " "))
    # Orphans: subcategories whose category is not in the categories file.
    orphans = [c for c in rng.sample(range(slots), 40) if c not in set(cats)]
    for c in orphans[:20]:
        subs.append((c, str(rng.randrange(10))))
    rng.shuffle(subs)
    subs = subs[:N_SUBCATEGORIES]
    return rng, chapters, blocks, cats, subs


def _latin1_csv(path, header, rows):
    text = ";".join(header) + "\n" + "".join(";".join(r) + "\n" for r in rows)
    Path(path).write_bytes(text.encode("latin1"))


def gen_official(seed, out_dir):
    """The four official DataSUS files (latin1, ';') for dir mode.
    Returns the number of input rows."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng, chapters, blocks, cats, subs = hierarchy(seed)
    roman = ["I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX", "X",
             "XI", "XII", "XIII", "XIV", "XV", "XVI", "XVII", "XVIII", "XIX",
             "XX", "XXI", "XXII"]
    _latin1_csv(out / "CID-10-CAPITULOS.csv",
                ["NUMCAP", "CATINIC", "CATFIM", "DESCRICAO", "DESCRABREV"],
                [(str(i + 1), _slot_code(s), _slot_code(e),
                  f"Capítulo {roman[i]} - {_title(rng)}", f"{roman[i]}. Cap")
                 for i, (s, e) in enumerate(chapters)])
    _latin1_csv(out / "CID-10-GRUPOS.csv",
                ["CATINIC", "CATFIM", "DESCRICAO", "DESCRABREV"],
                [(_slot_code(s), _slot_code(e), _title(rng), "Grupo")
                 for (s, e) in blocks])
    cat_rows = []
    for c in cats:
        code = _slot_code(c)
        if rng.random() < 0.02:
            code = code.lower()
        t = _title(rng)
        cat_rows.append((code, "", t, f"{code} {t[:10]}", "", ""))
    _latin1_csv(out / "CID-10-CATEGORIAS.csv",
                ["CAT", "CLASSIF", "DESCRICAO", "DESCRABREV", "REFER",
                 "EXCLUIDOS"], cat_rows)
    sub_rows = []
    for (c, d) in subs:
        code = _slot_code(c) + d
        r = rng.random()
        if r < 0.03:
            code = code.lower()
        elif r < 0.05 and d != " ":
            code += " "
        t = "" if rng.random() < 0.01 else _title(rng, 3, 8)
        sub_rows.append((code, "", "", "", t, code[:5], "", ""))
    _latin1_csv(out / "CID-10-SUBCATEGORIAS.csv",
                ["SUBCAT", "CLASSIF", "RESTRSEXO", "CAUSAOBITO", "DESCRICAO",
                 "DESCRABREV", "REFER", "EXCLUIDOS"], sub_rows)
    return len(chapters) + len(blocks) + len(cat_rows) + len(sub_rows)


def _first_match(code, ranges):
    for i, (lo, hi) in enumerate(ranges):
        if lo <= code <= hi:
            return i
    return None


def gen_combined(seed, out_dir, n_subcats, n_datasus):
    """The five files for combined mode: four structured OMS files (utf-8,
    ',') at real dimension size plus `n_subcats` subcategories, and a
    messy latin1 ';' DATASUS list of `n_datasus` rows. Returns the paths by
    CLI flag and the number of input rows."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng, chapters, blocks, cats, _ = hierarchy(seed)

    def rid(r):
        return f"{_slot_code(r[0])}-{_slot_code(r[1])}"

    def write_utf8(name, header, rows):
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
        (out / name).write_bytes(buf.getvalue().encode("utf-8"))
        return str(out / name)

    paths = {
        "chapters": write_utf8("chapters.csv", ["chapter_code", "chapter_title"],
                               [(rid(c), _title(rng, quotes=False)) for c in chapters]),
        "blocks": write_utf8("blocks.csv", ["block_id", "block_title"],
                             [(rid(b), _title(rng, quotes=False)) for b in blocks]),
    }
    cat_rows = []
    for c in cats:
        b = _first_match(c, blocks)
        ch = _first_match(c, chapters)
        cat_rows.append((_slot_code(c), _title(rng, quotes=False),
                         "" if b is None else rid(blocks[b]),
                         "" if ch is None else rid(chapters[ch])))
    paths["categories"] = write_utf8(
        "categories.csv",
        ["category_code", "category_title", "block_id", "chapter_code"],
        cat_rows)

    # Structured subcategories: unique dotted codes under real categories,
    # plus a few orphans under categories absent from categories.csv.
    cat_set = set(cats)
    free = [s for s in range(26 * 100) if s not in cat_set]
    per_cat = max(1, n_subcats // len(cats))
    width = len(str(per_cat))
    sub_codes = []
    for c in cats:
        for k in range(per_cat):
            sub_codes.append((_slot_code(c), f"{_slot_code(c)}.{k:0{width}d}"))
    for c in rng.sample(free, 20):
        sub_codes.append((_slot_code(c), f"{_slot_code(c)}.0"))
    sub_codes = sub_codes[:n_subcats]
    paths["subcategories"] = write_utf8(
        "subcategories.csv",
        ["subcategory_code", "subcategory_title", "category_code"],
        [(code, _title(rng, 3, 8, quotes=False), cat) for cat, code in sub_codes])

    # DATASUS: about half the codes repeat structured ones (the structured
    # row must win), the rest are new codes under known and unknown
    # categories. Codes are unique after normalization.
    pads = ["", "", "", " ", "  ", "\t", "\xa0"]
    shared = rng.sample(range(len(sub_codes)), min(len(sub_codes), n_datasus // 2))
    ds_codes = [sub_codes[i][1] for i in shared]
    k = 0
    while len(ds_codes) < n_datasus:
        c = _slot_code(rng.randrange(26 * 100))
        ds_codes.append(f"{c}.D{k}" if rng.random() < 0.97 else f"{c}D{k}")
        k += 1
    rng.shuffle(ds_codes)
    ds_lines = ["codigo;descricao"]
    for code in ds_codes:
        if rng.random() < 0.2:
            code = code.lower()
        code = rng.choice(pads) + code + rng.choice(pads)
        desc = "" if rng.random() < 0.02 else _title(rng, 2, 7) + " (DATASUS)"
        ds_lines.append(f"{code};{desc}")
    (out / "datasus.csv").write_bytes(("\n".join(ds_lines) + "\n").encode("latin1"))
    paths["datasus"] = str(out / "datasus.csv")
    n_rows = (len(chapters) + len(blocks) + len(cat_rows) + len(sub_codes)
              + len(ds_codes))
    return paths, n_rows
