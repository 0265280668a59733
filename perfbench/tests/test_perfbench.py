"""Self-tests of the benchmark (no Spark needed).

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import shutil
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import gen_cid  # noqa: E402
import replay  # noqa: E402
import run  # noqa: E402
import trace  # noqa: E402

RESOURCES = ROOT / "src" / "test" / "resources"
GOLDEN_DATE = "2026-01-15"  # pinned in the committed goldens


def files(d):
    return {p.name: p.read_bytes() for p in sorted(Path(d).iterdir())}


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        run.build.BUILD.mkdir(exist_ok=True)
        self.tmp = Path(tempfile.mkdtemp(dir=run.build.BUILD))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_bytes(self):
        for sub, gen in [("off", lambda s, d: gen_cid.gen_official(s, d)),
                         ("comb", lambda s, d: gen_cid.gen_combined(s, d, 3000, 3000))]:
            gen(7, self.tmp / f"{sub}_a")
            gen(7, self.tmp / f"{sub}_b")
            gen(8, self.tmp / f"{sub}_c")
            self.assertEqual(files(self.tmp / f"{sub}_a"), files(self.tmp / f"{sub}_b"))
            self.assertNotEqual(files(self.tmp / f"{sub}_a"), files(self.tmp / f"{sub}_c"))

    def test_no_ties_on_code_and_source(self):
        gen_cid.gen_official(3, self.tmp / "off")
        paths, _ = gen_cid.gen_combined(3, self.tmp / "comb", 3000, 3000)
        for con in [replay.load_official(self.tmp / "off"),
                    replay.load_combined(paths)]:
            ties = con.execute(
                "SELECT count(*) FROM (SELECT norm(cid_codigo), fonte FROM "
                "(SELECT * FROM structured UNION ALL BY NAME SELECT * FROM enriched) "
                "GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
            self.assertEqual(ties, 0)

    def test_edge_cases_present(self):
        gen_cid.gen_official(3, self.tmp / "off")
        con = replay.load_official(self.tmp / "off")
        q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        # A category whose first containing block is not its only one.
        self.assertGreater(q(
            "SELECT count(*) FROM (SELECT c.category_code FROM cats0 c JOIN "
            "block_ranges b ON c.category_code BETWEEN b.lo AND b.hi "
            "GROUP BY ALL HAVING count(*) > 1)"), 0)
        self.assertGreater(q("SELECT count(*) FROM categories WHERE block_id IS NULL"), 0)
        self.assertGreater(q("SELECT count(*) FROM categories WHERE chapter_code IS NULL"), 0)
        self.assertGreater(q("SELECT count(*) FROM sub WHERE SUBCAT <> upper(SUBCAT)"), 0)
        self.assertGreater(q("SELECT count(*) FROM sub WHERE SUBCAT LIKE '___ '"), 0)


class ReplayTest(unittest.TestCase):
    """The replay reproduces the engine's committed goldens and rejects a
    planted wrong row."""

    def setUp(self):
        run.build.BUILD.mkdir(exist_ok=True)
        self.tmp = Path(tempfile.mkdtemp(dir=run.build.BUILD))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def expected_dir_mode(self):
        return replay.expected(replay.load_official(RESOURCES / "cid_official"),
                               GOLDEN_DATE)

    def test_matches_goldens(self):
        exp = self.expected_dir_mode()
        self.assertEqual([exp["total"], exp["missing"]], [9, 1])
        self.assertEqual(replay.check_output(
            RESOURCES / "golden" / "dir_mode.csv", "x: 9\ny: 1\n", exp), [])
        s = RESOURCES / "cid_structured"
        exp = replay.expected(replay.load_combined(
            {k: s / f"{k}.csv" for k in ("datasus", "chapters", "blocks",
                                          "categories", "subcategories")}),
            GOLDEN_DATE)
        self.assertEqual(replay.check_output(
            RESOURCES / "golden" / "combined_mode.csv",
            f"x: {exp['total']}\ny: {exp['missing']}\n", exp), [])

    def test_catches_planted_wrong_row(self):
        exp = self.expected_dir_mode()
        golden = (RESOURCES / "golden" / "dir_mode.csv").read_bytes()
        planted = self.tmp / "planted.csv"
        planted.write_bytes(golden.replace(b'"A00-A99"', b'"A00-A09"', 1))
        errs = replay.check_output(planted, "x: 9\ny: 1\n", exp)
        self.assertTrue(any("row hash" in e for e in errs), errs)
        # Wrong Quality counters and a missing BOM are caught too.
        self.assertTrue(replay.check_output(
            RESOURCES / "golden" / "dir_mode.csv", "x: 9\ny: 2\n", exp))
        planted.write_bytes(golden[len(replay.BOM):])
        self.assertIn("missing UTF-8 BOM", replay.check_output(planted, "x: 9\ny: 1\n", exp))


class DeclaredMetricsTest(unittest.TestCase):
    """Every metric the command prints is declared in BENCHMARK.json, with
    the unit it prints."""

    def setUp(self):
        doc = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.e2e = {m["name"]: m["unit"] for m in doc["end_to_end"]}
        self.layers = {m["name"]: m["unit"] for m in doc["per_layer"]}
        self.workloads = {w["name"] for w in doc["workloads"]}

    def test_end_to_end(self):
        self.assertEqual(run.UNITS, self.e2e)

    def test_per_layer(self):
        span = {"kind": "call", "parent": "", "start_ms": 0.0, "end_ms": 1.0,
                "compile_ns": 0, "classes": 0, "source_bytes": 0}
        job = {"kind": "job", "name": "csv at CsvSources.scala:1",
               "parent": "sources.read", "start_ms": 0, "end_ms": 1, "stages": 1,
               "tasks": 1, "tasks_failed": 0, "floor_ms": 0, "task_run_ms": 1}
        action = {"func": "collect", "analysis_ms": 1, "optimization_ms": 1,
                  "planning_ms": 1, "shuffle_rows": 1, "shuffle_bytes": 1,
                  "range_branches": 0}
        t = {"run": {"app_start_ms": 0, "pipeline_end_ms": 10.0},
             "spans": [dict(span, name=n) for n in
                       ["session.start", "sources.read", "queries.count",
                        "queries.noop"]] + [job],
             "actions": [action] * 3}
        m = trace.layer_metrics(t, 10.0, 4, 100, 5)
        self.assertEqual({k: run.unit_of(k) for k in m}, self.layers)

    def test_workloads(self):
        self.assertEqual(set(run.WORKLOADS), self.workloads)


if __name__ == "__main__":
    unittest.main()
