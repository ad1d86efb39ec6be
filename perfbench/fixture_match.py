#!/usr/bin/env python3
"""Compares the seeded tables of `gen_tables.py` with a fixture directory.

    python3 perfbench/fixture_match.py <fixture_sf_dir> [seed ...]

`<fixture_sf_dir>` holds the repository's fixture tables at one scale
factor (TESTDATA.md, e.g. its sf0.01 directory). For each seed (default
1 2 3) the tables are generated at that scale factor into a temporary
directory under `$CARGO_TARGET_DIR` (default `.bench_build/`), removed
afterwards, and the properties the headline queries depend on are
printed side by side: row counts, key structure, duplicate densities
and value distributions.
"""
import os
import shutil
import sys
import tempfile

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_tables  # noqa: E402

PROPS = [
    ("rows: " + t, f"SELECT count(*) FROM {t}") for t in gen_tables.NAMES
] + [
    ("lineitem: distinct (orderkey, linenumber) / rows",
     "SELECT count(DISTINCT (l_orderkey, l_linenumber)) / count(*) "
     "FROM lineitem"),
    ("lineitem: orders with a lineitem / orders",
     "SELECT count(DISTINCT l_orderkey) / (SELECT count(*) FROM orders) "
     "FROM lineitem"),
    ("lineitem: max lineitems of one order",
     "SELECT max(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_orderkey)"),
    ("lineitem: repeated fs path keys (orderkey, line, part, supp, flags)",
     "SELECT count(*) FROM (SELECT 1 FROM lineitem GROUP BY l_orderkey, "
     "l_linenumber, l_partkey, l_suppkey, l_returnflag, l_linestatus "
     "HAVING count(*) > 1)"),
    ("customer: without orders",
     "SELECT count(*) FROM customer WHERE c_custkey NOT IN "
     "(SELECT o_custkey FROM orders)"),
    ("part: distinct names",
     "SELECT count(DISTINCT p_name) FROM part"),
    ("events: distinct users", "SELECT count(DISTINCT user_id) FROM events"),
    ("events: value median", "SELECT median(value) FROM events"),
    ("events: ts out of event_id order",
     "SELECT count(*) FROM (SELECT ts < lag(ts) OVER (ORDER BY event_id) b "
     "FROM events) WHERE b"),
    ("documents: exact duplicate texts",
     "SELECT count(*) - count(DISTINCT text) FROM documents"),
    ("documents: ' dup' copies / rows",
     "SELECT avg(CASE WHEN text LIKE '% dup' THEN 1 ELSE 0 END) "
     "FROM documents"),
    ("documents: vocabulary size",
     "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) "
     "w FROM documents)"),
    ("documents: mean words",
     "SELECT avg(len(string_split(text, ' '))) FROM documents"),
    ("documents: share 'en'",
     "SELECT avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) FROM documents"),
    ("embeddings: dims", "SELECT max(len(embedding)) FROM embeddings"),
    ("embeddings: labels", "SELECT count(DISTINCT label) FROM embeddings"),
    ("embeddings: pairs with cosine >= 0.2",
     "SELECT avg(CASE WHEN list_dot_product(a.embedding, b.embedding) "
     ">= 0.2 THEN 1 ELSE 0 END) FROM embeddings a JOIN embeddings b "
     "ON a.vec_id < b.vec_id"),
    ("embeddings: same-label mean cosine",
     "SELECT avg(list_dot_product(a.embedding, b.embedding)) FROM "
     "embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
     "AND a.label = b.label"),
]


def measure(d):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen_tables.NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{d}/{t}.parquet')")
    out = [con.execute(sql).fetchone()[0] for _, sql in PROPS]
    con.close()
    return out


def fmt(v):
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def main(argv):
    if not argv:
        sys.exit(__doc__)
    fixture, seeds = argv[0], [int(s) for s in argv[1:]] or [1, 2, 3]
    with duckdb.connect() as con:
        n = con.execute(f"SELECT count(*) FROM read_parquet("
                        f"'{fixture}/lineitem.parquet')").fetchone()[0]
    sf = n / 6_000_000
    cols = [measure(fixture)]
    build_dir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="fixture_match-", dir=build_dir)
    try:
        for s in seeds:
            d = os.path.join(tmp, str(s))
            gen_tables.generate(d, s, sf)
            cols.append(measure(d))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("| property | fixture | " +
          " | ".join(f"seed {s}" for s in seeds) + " |")
    print("|---|" + "---|" * (len(seeds) + 1))
    for i, (name, _) in enumerate(PROPS):
        print(f"| {name} | " + " | ".join(fmt(c[i]) for c in cols) + " |")


if __name__ == "__main__":
    main(sys.argv[1:])
