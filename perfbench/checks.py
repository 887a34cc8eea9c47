"""Output checks made apart from the program.

arXiv workloads: the first op's tables and reports (written by the JVM
harness) are checked against
- a Python recount of the input under the reference's insert rules: file
  order, and a row is skipped when its non-null DOI, title or report
  number is already taken (nulls never conflict);
- the clean rule (titles shorter than 2 characters are deleted);
- a Python recomputation of the mock Scholar client's citations;
- DuckDB re-running the reference report SQL and the validation checks
  over the produced tables.
Every later op must reproduce the first op's fingerprint (the harness
compares them), so these checks cover every op.

Catalog workload: each row's collected output must hash-match its DuckDB
oracle SQL over the same generated tables.

Each check function returns a list of failure messages (empty = pass).
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import frame_fingerprint  # noqa: E402

REPORT_SQL = {
    "author_counts": """
        SELECT a.id, a.name, COUNT(ap.publication_id) AS publication_count
        FROM authors a JOIN authorship ap ON a.id = ap.author_id
        GROUP BY a.id, a.name
        ORDER BY publication_count DESC, a.id""",
    "citation_counts": """
        SELECT p.id AS publication_id, p.title AS publication_title,
               COUNT(c.id) AS citation_count
        FROM publications p LEFT JOIN citations c ON p.id = c.publication_id
        GROUP BY p.id, p.title
        ORDER BY citation_count DESC, p.title""",
    "category_counts": """
        SELECT cat.category_name, COUNT(p.id) AS publication_count
        FROM categories cat
        JOIN publication_category pc ON cat.id = pc.category_id
        JOIN publications p ON pc.publication_id = p.id
        GROUP BY cat.category_name
        ORDER BY publication_count DESC, cat.category_name""",
}


def _count(sql):
    return f"(SELECT COUNT(*) FROM ({sql}) q)"


def _nulls(table, cond):
    return f"(SELECT COUNT(*) FROM {table} WHERE {cond})"


def _unique(table, cols):
    nn = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    cs = ", ".join(cols)
    return (f"(SELECT COALESCE(SUM(c - 1), 0) FROM (SELECT COUNT(*) AS c FROM {table} "
            f"WHERE {nn} GROUP BY {cs} HAVING COUNT(*) > 1) q)")


def _pk(table, cols):
    anynull = " OR ".join(f"{c} IS NULL" for c in cols)
    return f"({_unique(table, cols)} + {_nulls(table, anynull)})"


def _fk(child, ccol, parent, pcol):
    return (f"(SELECT COUNT(*) FROM {child} c WHERE c.{ccol} IS NOT NULL AND NOT EXISTS "
            f"(SELECT 1 FROM {parent} p WHERE p.{pcol} = c.{ccol}))")


# Validate.run's report, check by check (publication_venues is never
# written by the pipeline, so its three checks count an empty table).
VALIDATION_SQL = [
    ("duplicate_dois", _count("SELECT doi FROM publications GROUP BY doi HAVING COUNT(doi) > 1")),
    ("missing_dois", _nulls("publications", "doi IS NULL OR trim(doi) = ''")),
    ("empty_affiliations", _nulls("authors", "trim(affiliation) = ''")),
    ("not_null_submitter", _nulls("publications", "submitter IS NULL")),
    ("check_title_len", _nulls("publications", "NOT (length(title) > 1 AND title <> '')")),
    ("not_null_title", _nulls("publications", "title IS NULL")),
    ("unique_doi", _unique("publications", ["doi"])),
    ("unique_report_no", _unique("publications", ["report_no"])),
    ("unique_title", _unique("publications", ["title"])),
    ("not_null_citation_publication_id", _nulls("citations", "publication_id IS NULL")),
    ("not_null_citation_title", _nulls("citations", "title IS NULL")),
    ("fk_citations_publication", _fk("citations", "publication_id", "publications", "id")),
    ("not_null_name", _nulls("authors", "name IS NULL")),
    ("check_author_name_nonempty", _nulls("authors", "name = ''")),
    ("not_null_affiliation", _nulls("authors", "affiliation IS NULL")),
    ("check_author_affiliation_nonempty", _nulls("authors", "affiliation = ''")),
    ("not_null_venue_name", "0"),
    ("check_venue_name_nonempty", "0"),
    ("check_impact_factor_nonneg", "0"),
    ("not_null_category_name", _nulls("categories", "category_name IS NULL")),
    ("check_category_name_nonempty", _nulls("categories", "category_name = ''")),
    ("pk_authorship", _pk("authorship", ["publication_id", "author_id"])),
    ("fk_authorship_publication", _fk("authorship", "publication_id", "publications", "id")),
    ("fk_authorship_author", _fk("authorship", "author_id", "authors", "id")),
    ("pk_publication_category", _pk("publication_category", ["publication_id", "category_id"])),
    ("fk_publication_category_publication",
     _fk("publication_category", "publication_id", "publications", "id")),
    ("fk_publication_category_category",
     _fk("publication_category", "category_id", "categories", "id")),
]

MUST_BE_ZERO = [n for n, _ in VALIDATION_SQL
                if n.startswith(("fk_", "pk_")) or n == "unique_title"]

TABLES = ["publications", "citations", "authors", "categories", "authorship",
          "publication_category"]


def reference_inserts(records):
    """Records the reference inserts: file order; a row whose non-null
    doi, title or report-no is already taken is skipped."""
    taken = {"doi": set(), "title": set(), "report-no": set()}
    kept = []
    for r in records:
        if any(r[k] is not None and r[k] in taken[k] for k in taken):
            continue
        for k in taken:
            if r[k] is not None:
                taken[k].add(r[k])
        kept.append(r)
    return kept


def mock_citations(pubs):
    """MockScholarClient's two results per title, as Citations.run stores
    them: ids in (publication_id, result index) order."""
    rows = []
    for pid, title in sorted(pubs):
        for i in range(2):
            tag = hashlib.md5(f"{title}#{i}".encode()).hexdigest()[:12]
            rows.append((pid, title if i == 0 else f"Study of {title} ({tag})",
                         f"A {tag[:3]}"))
    return [(n + 1,) + r for n, r in enumerate(rows)]


def expected_store(records):
    """The star schema the pipeline's ingest → clean → citations produces."""
    inserted = reference_inserts(records)
    pubs = {}
    authorship, pub_cat = set(), set()
    for i, r in enumerate(inserted):
        if len(r["title"].strip(" ")) < 2:
            continue
        pid = i + 1
        pubs[pid] = (r["title"], r["doi"], r["report-no"])
        authorship.update((pid, a) for a in r["authors"].split(", "))
        pub_cat.update((pid, c) for c in r["categories"].split(" "))
    authors = {a for r in inserted for a in r["authors"].split(", ")}
    categories = {c for r in inserted for c in r["categories"].split(" ")}
    cites = mock_citations([(pid, t[0]) for pid, t in pubs.items()])
    return {"ingested": len(inserted), "publications": pubs, "authors": authors,
            "categories": categories, "authorship": authorship,
            "publication_category": pub_cat, "citations": cites}


def _connect_tables(out_dir):
    con = duckdb.connect()
    for t in TABLES:
        files = sorted(glob.glob(os.path.join(out_dir, "tables", t, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet output for table {t}")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
    return con


def _read_jsonl(path):
    with open(path, encoding="utf-8") as f:
        return [tuple(json.loads(line)) for line in f if line.strip()]


def _ids_dense(con, table):
    n, lo, hi, d = con.execute(
        f"SELECT COUNT(*), MIN(id), MAX(id), COUNT(DISTINCT id) FROM {table}").fetchone()
    return n == 0 or (lo == 1 and hi == n and d == n)


def check_arxiv(records, out_dir, trace=False):
    fails = []
    exp = expected_store(records)
    with open(os.path.join(out_dir, "ingested.txt")) as f:
        ingested = int(f.read().strip())
    if ingested != exp["ingested"]:
        fails.append(f"ingested {ingested} publications, recount gives {exp['ingested']}")
    con = _connect_tables(out_dir)
    q = lambda sql: con.execute(sql).fetchall()

    pubs = {r[0]: (r[1], r[2], r[3]) for r in q("SELECT id, title, doi, report_no FROM publications")}
    if len(pubs) != len(q("SELECT id FROM publications")):
        fails.append("publication ids are not distinct")
    if pubs != exp["publications"]:
        fails.append(f"publications differ from the recount ({len(pubs)} vs {len(exp['publications'])})")
    for t in ("authors", "categories", "citations"):
        if not _ids_dense(con, t):
            fails.append(f"{t}.id is not exactly 1..n")
    if {r[0] for r in q("SELECT name FROM authors")} != exp["authors"]:
        fails.append("author names differ from the input's")
    if q("SELECT COUNT(*) FROM authors WHERE affiliation <> 'Unknown'")[0][0]:
        fails.append("an author's affiliation is not 'Unknown'")
    if {r[0] for r in q("SELECT category_name FROM categories")} != exp["categories"]:
        fails.append("category names differ from the input's")
    got = set(q("SELECT ap.publication_id, a.name FROM authorship ap JOIN authors a ON a.id = ap.author_id"))
    if got != exp["authorship"]:
        fails.append("authorship differs from the input's author lists")
    got = set(q("SELECT pc.publication_id, c.category_name FROM publication_category pc "
                "JOIN categories c ON c.id = pc.category_id"))
    if got != exp["publication_category"]:
        fails.append("publication_category differs from the input's categories")
    got = q("SELECT id, publication_id, title, author FROM citations ORDER BY id")
    if got != exp["citations"]:
        fails.append("citations differ from one row per mock Scholar result")
    if q("SELECT COUNT(*) FROM citations WHERE year IS NOT NULL")[0][0]:
        fails.append("a citation has a year")

    checks = {n: q(f"SELECT {sql}")[0][0] for n, sql in VALIDATION_SQL}
    for n in MUST_BE_ZERO:
        if checks[n] != 0:
            fails.append(f"{n} = {checks[n]}, must be 0")

    forms = [""] + (["_sql"] if trace else [])
    for name, sql in REPORT_SQL.items():
        want = [tuple(r) for r in q(sql)]
        for form in forms:
            got = _read_jsonl(os.path.join(out_dir, f"{name}{form}.jsonl"))
            if got != want:
                fails.append(f"report {name}{form} differs from DuckDB's")
    if trace:
        got = _read_jsonl(os.path.join(out_dir, "validation.jsonl"))
        want = [(n, v) for n, v in checks.items()]
        if sorted(got) != sorted(want):
            fails.append("Validate.run differs from DuckDB's validation checks")
    con.close()
    return fails


def check_catalog(input_dir, out_dir):
    fails = []
    with open(os.path.join(out_dir, "oracle_sql.json"), encoding="utf-8") as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in ("documents", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    for row, sql in sorted(oracles.items()):
        if not sql:
            fails.append(f"{row}: no oracle SQL")
            continue
        files = sorted(glob.glob(os.path.join(out_dir, "rows", row, "*.parquet")))
        if not files:
            fails.append(f"{row}: no output")
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        want = con.sql(sql)
        g_cols = [c.lower() for c in got.columns]
        w_cols = [c.lower() for c in want.columns]
        g_rows, w_rows = got.fetchall(), want.fetchall()
        if sorted(g_cols) != sorted(w_cols) or len(g_rows) != len(w_rows) or \
                frame_fingerprint(g_rows, g_cols) != frame_fingerprint(w_rows, w_cols):
            fails.append(f"{row}: output differs from its DuckDB oracle "
                         f"({len(g_rows)} vs {len(w_rows)} rows)")
    con.close()
    return fails
