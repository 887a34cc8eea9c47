"""The benchmark's own tests (no JVM needed).

    python3 -m unittest perfbench/test_perfbench.py     # from the repo root
"""
import filecmp
import json
import math
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)


def write_parquet(con, path, rows, columns, types):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df = pd.DataFrame(rows, columns=columns)
    con.register("frame", df)
    casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in zip(columns, types))
    con.execute(f"COPY (SELECT {casts} FROM frame) TO '{path}' (FORMAT parquet)")
    con.unregister("frame")


def write_jsonl(path, rows):
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(list(r)) for r in rows))


class Corpus(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_byte_identical_inputs(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        gen.write_arxiv(300, 7, a, root=ROOT)
        gen.write_arxiv(300, 7, b, root=ROOT)
        gen.write_arxiv(300, 8, c, root=ROOT)
        self.assertTrue(filecmp.cmp(f"{a}/arxiv.json", f"{b}/arxiv.json", shallow=False))
        self.assertFalse(filecmp.cmp(f"{a}/arxiv.json", f"{c}/arxiv.json", shallow=False))
        gen.write_catalog(7, a, root=ROOT)
        gen.write_catalog(7, b, root=ROOT)
        for t in ("documents", "orders", "lineitem"):
            self.assertTrue(filecmp.cmp(f"{a}/{t}.parquet", f"{b}/{t}.parquet", shallow=False))

    def test_corpus_make_up(self):
        recs = gen.arxiv_corpus(2000, 3, gen.base_records(ROOT))
        null_doi = sum(r["doi"] is None for r in recs) / len(recs)
        self.assertTrue(0.4 < null_doi < 0.6, null_doi)
        for key in ("doi", "title", "report-no"):
            vals = [r[key] for r in recs if r[key] is not None]
            self.assertLess(len(set(vals)), len(vals), f"no planted duplicate {key}")
        cats = {c for r in recs for c in r["categories"].split()}
        self.assertTrue({"cs.C", "cs.CG"} <= cats)
        small = {a for r in gen.arxiv_corpus(200, 3, gen.base_records(ROOT))
                 for a in r["authors"].split(", ")}
        big = {a for r in recs for a in r["authors"].split(", ")}
        self.assertGreater(len(big), len(small))
        inserted = checks.reference_inserts(recs)
        self.assertLess(len(inserted), len(recs))


class ArxivChecks(unittest.TestCase):
    """A correct output built from the expected store passes; each planted
    wrong answer fails."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.recs = gen.arxiv_corpus(400, 11, gen.base_records(ROOT))
        exp = checks.expected_store(self.recs)
        con = duckdb.connect()
        authors = sorted(exp["authors"])
        aid = {a: i + 1 for i, a in enumerate(authors)}
        cats = sorted(exp["categories"])
        cid = {c: i + 1 for i, c in enumerate(cats)}
        t = os.path.join(self.tmp, "tables")
        self.tables = {
            "publications": ([(pid, "s", ti, None, None, doi, rep, "x", None, "2026-01-01")
                              for pid, (ti, doi, rep) in sorted(exp["publications"].items())],
                             ["id", "submitter", "title", "comments", "journal_ref", "doi",
                              "report_no", "categories", "license", "update_date"],
                             ["BIGINT"] + ["VARCHAR"] * 8 + ["DATE"]),
            "citations": ([c + (None,) for c in exp["citations"]],
                          ["id", "publication_id", "title", "author", "year"],
                          ["BIGINT", "BIGINT", "VARCHAR", "VARCHAR", "INTEGER"]),
            "authors": ([(aid[a], a, "Unknown") for a in authors], ["id", "name", "affiliation"],
                        ["BIGINT", "VARCHAR", "VARCHAR"]),
            "categories": ([(cid[c], c) for c in cats], ["id", "category_name"],
                           ["BIGINT", "VARCHAR"]),
            "authorship": (sorted((p, aid[a]) for p, a in exp["authorship"]),
                           ["publication_id", "author_id"], ["BIGINT", "BIGINT"]),
            "publication_category": (sorted((p, cid[c]) for p, c in exp["publication_category"]),
                                     ["publication_id", "category_id"], ["BIGINT", "BIGINT"]),
        }
        for name, (rows, cols, types) in self.tables.items():
            write_parquet(con, f"{t}/{name}/part-0.parquet", rows, cols, types)
        with open(os.path.join(self.tmp, "ingested.txt"), "w") as f:
            f.write(str(exp["ingested"]))
        con.close()
        con = checks._connect_tables(self.tmp)
        for name, sql in checks.REPORT_SQL.items():
            rows = con.execute(sql).fetchall()
            write_jsonl(os.path.join(self.tmp, f"{name}.jsonl"), rows)
            write_jsonl(os.path.join(self.tmp, f"{name}_sql.jsonl"), rows)
        write_jsonl(os.path.join(self.tmp, "validation.jsonl"),
                    [(n, con.execute(f"SELECT {sql}").fetchone()[0])
                     for n, sql in checks.VALIDATION_SQL])
        con.close()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def rewrite(self, name, fn):
        rows, cols, types = self.tables[name]
        con = duckdb.connect()
        write_parquet(con, f"{self.tmp}/tables/{name}/part-0.parquet", fn(list(rows)), cols, types)
        con.close()

    def edit_jsonl(self, name, fn):
        path = os.path.join(self.tmp, f"{name}.jsonl")
        rows = checks._read_jsonl(path)
        write_jsonl(path, fn(rows))

    def assertFails(self, fragment):
        fails = checks.check_arxiv(self.recs, self.tmp, trace=True)
        self.assertTrue(any(fragment in f for f in fails), fails)

    def test_correct_output_passes(self):
        self.assertEqual(checks.check_arxiv(self.recs, self.tmp, trace=True), [])

    def test_wrong_ingested_count(self):
        with open(os.path.join(self.tmp, "ingested.txt"), "w") as f:
            f.write(str(checks.expected_store(self.recs)["ingested"] + 1))
        self.assertFails("recount")

    def test_wrong_publication(self):
        self.rewrite("publications", lambda r: [r[0][:2] + ("other",) + r[0][3:]] + r[1:])
        self.assertFails("publications differ")

    def test_sparse_author_ids(self):
        self.rewrite("authors", lambda r: r[:-1] + [(r[-1][0] + 5,) + r[-1][1:]])
        self.assertFails("authors.id")

    def test_wrong_affiliation(self):
        self.rewrite("authors", lambda r: [r[0][:2] + ("Elsewhere",)] + r[1:])
        self.assertFails("affiliation")

    def test_missing_category(self):
        self.rewrite("categories", lambda r: r[:-1])
        self.assertFails("category names")

    def test_missing_authorship_row(self):
        self.rewrite("authorship", lambda r: r[1:])
        self.assertFails("authorship differs")

    def test_duplicate_authorship_row(self):
        self.rewrite("authorship", lambda r: r + r[:1])
        self.assertFails("pk_authorship")

    def test_dangling_publication_category(self):
        self.rewrite("publication_category", lambda r: r + [(10 ** 9, r[0][1])])
        self.assertFails("fk_publication_category_publication")

    def test_wrong_citation(self):
        self.rewrite("citations", lambda r: [r[0][:3] + ("Nobody", None)] + r[1:])
        self.assertFails("citations differ")

    def test_citation_with_year(self):
        self.rewrite("citations", lambda r: [r[0][:4] + (2020,)] + r[1:])
        self.assertFails("year")

    def test_wrong_report_order(self):
        self.edit_jsonl("author_counts", lambda r: [r[1], r[0]] + r[2:])
        self.assertFails("report author_counts differs")

    def test_wrong_sql_report(self):
        self.edit_jsonl("category_counts_sql", lambda r: r[:-1])
        self.assertFails("report category_counts_sql differs")

    def test_wrong_validation(self):
        self.edit_jsonl("validation", lambda r: [(r[0][0], r[0][1] + 1)] + r[1:])
        self.assertFails("Validate.run")


class CatalogChecks(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.inp = os.path.join(self.tmp, "input")
        self.out = os.path.join(self.tmp, "out")
        gen.write_catalog(2, self.inp, root=ROOT)
        self.sql = "SELECT doc_id, n_chars FROM documents WHERE doc_id % 7 = 3"
        os.makedirs(self.out)
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"q_test": self.sql}, f)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.inp}/documents.parquet'")
        self.rows = con.execute(self.sql).fetchall()
        con.close()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write_output(self, rows):
        con = duckdb.connect()
        write_parquet(con, f"{self.out}/rows/q_test/part-0.parquet", rows,
                      ["doc_id", "n_chars"], ["BIGINT", "BIGINT"])
        con.close()

    def test_matching_output_passes(self):
        self.write_output(self.rows)
        self.assertEqual(checks.check_catalog(self.inp, self.out), [])

    def test_wrong_value_fails(self):
        self.write_output([(self.rows[0][0], self.rows[0][1] + 1)] + self.rows[1:])
        self.assertEqual(len(checks.check_catalog(self.inp, self.out)), 1)

    def test_missing_row_fails(self):
        self.write_output(self.rows[1:])
        self.assertEqual(len(checks.check_catalog(self.inp, self.out)), 1)


class MetricOutput(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        self.res = {"setup_ms": 6500.25, "ops_ms": [7000.5, 7100.25],
                    "live_mb": 410.5, "items_per_op": 1000, "attempted": 2, "failed": 0,
                    "layers": {"engine.jobs": 101, "arxiv.ingest.ms": 3500.5}}

    def roundtrip(self, metrics):
        line = run.result_line(True, 2, 0, metrics)
        d = json.loads(line)
        self.assertEqual(set(d), {"correct", "attempted", "failed", "metrics"})
        for name, m in d["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertTrue(isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), name)
        return d["metrics"]

    def test_end_to_end_line(self):
        got = self.roundtrip(run.e2e_metrics(self.res))
        want = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in got.items()}, want)
        self.assertAlmostEqual(got["setup_s"]["value"], 6.50025)
        self.assertAlmostEqual(got["peak_live_mb"]["value"], 410.5)
        self.assertAlmostEqual(got["op_p50_ms"]["value"], 7050.375)
        self.assertAlmostEqual(got["items_per_s"]["value"], 2000 / 14.10075)

    def test_per_layer_line(self):
        cwd = os.getcwd()
        os.chdir(ROOT)
        try:
            got = self.roundtrip(run.layer_metrics(self.res, {"calib_ms": 20.5, "steal_share": 0.01}))
        finally:
            os.chdir(cwd)
        self.assertEqual(set(got), {m["name"] for m in self.spec["per_layer"]})
        self.assertEqual(got["engine.jobs"]["value"], 101)
        self.assertEqual(got["host.calib_ms"]["value"], 20.5)

    def test_spec_shape(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual({w["name"] for w in s["workloads"]}, set(run.WORKLOADS))
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + \
            [w["name"] for w in s["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        self.assertEqual(len(names), len(set(names)))
        bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
            self.assertIn(m["better"], ("lower", "higher"))


if __name__ == "__main__":
    unittest.main()
