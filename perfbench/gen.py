"""Seeded inputs for the benchmark, derived only from files in the repo.

arXiv workloads get `arxiv.json`, an arXiv-metadata JSON array shaped like
`src/test/resources/dataset.json`, whose 30 records supply the word,
name, category and license pools:

- about half the DOIs are null; 3% of records repeat an earlier record's
  DOI, 2% its title and 1% its report number (each repeat copies one key
  of a record that is itself no repeat, so no chain of conflicts arises);
- 0.3% of titles are one letter long, which the clean stage deletes;
- authors are `", "`-joined names drawn from a pool that grows with the
  corpus (about 4 * n ** 0.75 names);
- categories include codes that are substrings of one another
  (`cs.C` / `cs.CG`, `math.C` / `math.CO`).

The catalog workload gets `documents`, `orders` and `lineitem` parquet
tables with the columns its rows read: 500 documents built from the same
word pool (15% are near-copies of an earlier document) and a random
customer/supplier trade graph of 15,000 orders.

Usage: python3 perfbench/gen.py <arxiv|catalog> <records> <seed> <out_dir>
"""
import json
import os
import random
import re
import sys

DATASET = os.path.join("src", "test", "resources", "dataset.json")
PLANTED_CATEGORIES = ["cs.C", "cs.CG", "math.C", "math.CO", "hep", "hep-th"]


def base_records(root="."):
    with open(os.path.join(root, DATASET), encoding="utf-8") as f:
        return json.load(f)


def pools(base):
    words = set()
    firsts, lasts, cats, licenses = set(), set(), set(), set()
    for r in base:
        for w in re.findall(r"[A-Za-z]{3,}", (r["title"] or "") + " " + (r["abstract"] or "")):
            words.add(w.lower())
        for p in r.get("authors_parsed") or []:
            if len(p) > 1 and p[0].isalpha() and p[1]:
                lasts.add(p[0])
                firsts.add(p[1].split()[0].strip(","))
        cats.update((r["categories"] or "").split())
        if r.get("license"):
            licenses.add(r["license"])
    cats.update(PLANTED_CATEGORIES)
    return (sorted(words), sorted(firsts), sorted(lasts), sorted(cats),
            sorted(licenses))


def author_pool(rng, firsts, lasts, n):
    size = max(50, int(4 * n ** 0.75))
    names, seen = [], set()
    while len(names) < size:
        name = f"{rng.choice(firsts)} {rng.choice('ABCDEFGHJKLMNPRSTW')}. {rng.choice(lasts)}"
        if name in seen:
            name = f"{name} {len(names)}"
        seen.add(name)
        names.append(name)
    return names


def arxiv_corpus(n, seed, base):
    """`n` arXiv-shaped records; the same (n, seed, base) gives the same list."""
    rng = random.Random(seed)
    words, firsts, lasts, cats, licenses = pools(base)
    authors = author_pool(rng, firsts, lasts, n)
    sources = {"doi": [], "title": [], "report-no": []}
    out = []
    for i in range(n):
        names = rng.sample(authors, rng.choice([1, 1, 2, 2, 3, 3, 4, 5]))
        k = rng.choice([1, 1, 1, 2, 2, 3])
        if rng.random() < 0.1:
            categories = rng.sample(PLANTED_CATEGORIES, 2)
        else:
            categories = rng.sample(cats, k)
        title = " ".join(rng.sample(words, rng.randint(4, 9))).capitalize() + f" {i}"
        doi = None if rng.random() < 0.5 else f"10.{1000 + rng.randrange(9000)}/g{seed}.{i}"
        report = None if rng.random() < 0.85 else f"REP-{seed}-{i}"
        u = rng.random()
        repeat = None
        if u < 0.03 and sources["doi"]:
            repeat = "doi"
        elif u < 0.05 and sources["title"]:
            repeat = "title"
        elif u < 0.06 and sources["report-no"]:
            repeat = "report-no"
        if repeat:
            src = out[rng.choice(sources[repeat])]
            if repeat == "doi":
                doi = src["doi"]
            elif repeat == "title":
                title = src["title"]
            else:
                report = src["report-no"]
        elif rng.random() < 0.003:
            title = rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
        else:
            sources["title"].append(i)
            if doi:
                sources["doi"].append(i)
            if report:
                sources["report-no"].append(i)
        parsed = [[nm.split()[-1], nm.split()[0], ""] for nm in names]
        out.append({
            "id": f"{7 + i // 100000:02d}{(i // 1000) % 100:02d}.{i % 100000:05d}",
            "submitter": names[0],
            "authors": ", ".join(names),
            "title": title,
            "comments": None if rng.random() < 0.4 else f"{rng.randint(4, 40)} pages",
            "journal-ref": None if rng.random() < 0.7 else f"J. {rng.choice(words).capitalize()} {rng.randint(1, 99)}",
            "doi": doi,
            "report-no": report,
            "categories": " ".join(categories),
            "license": rng.choice(licenses) if rng.random() < 0.5 else None,
            "abstract": " ".join(rng.choice(words) for _ in range(rng.randint(30, 80))),
            "versions": [{"version": "v1", "created": "Mon, 2 Apr 2007 19:18:42 GMT"}],
            "update_date": "2008-11-13",
            "authors_parsed": parsed,
        })
    return out


def write_arxiv(n, seed, out_dir, root="."):
    recs = arxiv_corpus(n, seed, base_records(root))
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "arxiv.json"), "w", encoding="utf-8") as f:
        f.write("[\n" + ",\n".join(json.dumps(r) for r in recs) + "\n]\n")
    with open(os.path.join(out_dir, "records.txt"), "w") as f:
        f.write(f"{n}\n")
    return recs


def catalog_tables(seed, base, docs=500, orders=15000):
    rng = random.Random(seed)
    words, _, _, cats, _ = pools(base)
    texts = []
    for d in range(docs):
        if d > 10 and rng.random() < 0.15:
            t = texts[rng.randrange(d)].split()
            for _ in range(rng.randint(1, 3)):
                t[rng.randrange(len(t))] = rng.choice(words)
            texts.append(" ".join(t))
        else:
            texts.append(" ".join(rng.choice(words) for _ in range(rng.randint(20, 70))))
    documents = [(d, t, "en", rng.choice(cats), len(t)) for d, t in enumerate(texts)]
    order_rows = [(o, rng.randint(1, 1000)) for o in range(1, orders + 1)]
    line_rows = [(o, rng.randint(1, 100)) for o in range(1, orders + 1)
                 for _ in range(rng.randint(1, 7))]
    return documents, order_rows, line_rows


def write_catalog(seed, out_dir, root="."):
    import duckdb
    import pandas as pd
    documents, order_rows, line_rows = catalog_tables(seed, base_records(root))
    os.makedirs(out_dir, exist_ok=True)
    frames = {
        "documents": pd.DataFrame(documents, columns=["doc_id", "text", "lang", "source", "n_chars"]),
        "orders": pd.DataFrame(order_rows, columns=["o_orderkey", "o_custkey"]),
        "lineitem": pd.DataFrame(line_rows, columns=["l_orderkey", "l_suppkey"]),
    }
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for name, df in frames.items():
        con.register("frame", df)
        con.execute(f"COPY (SELECT * FROM frame) TO '{out_dir}/{name}.parquet' (FORMAT parquet)")
        con.unregister("frame")
    con.close()


def main(argv):
    kind, n, seed, out_dir = argv[1], int(argv[2]), int(argv[3]), argv[4]
    if kind == "arxiv":
        write_arxiv(n, seed, out_dir)
    else:
        write_catalog(seed, out_dir)


if __name__ == "__main__":
    main(sys.argv)
