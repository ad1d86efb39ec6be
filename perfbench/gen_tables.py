"""Seeded generator of the star-schema tables the headline queries read.

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as one parquet file each,
`<out>/<name>.parquet`, the layout of the repository's fixture tables
(TESTDATA.md, FIXTURES.md part B). Every value is a pure function of
(row number, column salt, seed) through DuckDB's `hash`, so one seed
always yields the same data and no random-number state is shared
between threads.

Row counts, key structure and duplicate densities follow the fixture
tables (sf 0.01 = 60,000 lineitem rows): lineitems draw their order
uniformly and their line number from 1-7, so (l_orderkey, l_linenumber)
repeats as it does there; 5% of the documents are another document with
" dup" appended and none is an exact copy; embeddings are isotropic
random unit vectors with a label that carries no cluster;
`fixture_match.py` compares these properties against a fixture
directory.
"""
import os

import duckdb

NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"]

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def rows(sf):
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(50_000 * sf),
    }


def table_sql(name, n, seed, sizes):
    """SELECT producing table `name` with `n` rows for `seed`."""
    def u(salt, key="i"):
        # uniform [0, 1) from (row, salt, seed)
        return f"((hash({key}, {salt}, {seed}) % 1000000007) / 1000000007.0)"

    def pick(salt, choices):
        arr = "[" + ", ".join(f"'{c}'" for c in choices) + "]"
        return f"{arr}[1 + CAST(floor({u(salt)} * {len(choices)}) AS INTEGER)]"

    def gauss(salt, key="i"):
        # standard normal by Box-Muller; 1 - u keeps ln's argument > 0
        return (f"(sqrt(-2 * ln(1 - {u(salt, key)})) * "
                f"cos(2 * pi() * {u(salt + 1000, key)}))")

    c, s, p, o = (sizes["customer"], sizes["supplier"], sizes["part"],
                  sizes["orders"])
    rng = f"range(0, {n}) t(i)"
    if name == "region":
        return ("SELECT CAST(i AS INTEGER) AS r_regionkey, "
                "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] "
                f"AS r_name FROM {rng}")
    if name == "nation":
        return ("SELECT CAST(i AS INTEGER) AS n_nationkey, "
                "'NATION_' || i AS n_name, "
                f"CAST(i % 5 AS INTEGER) AS n_regionkey FROM {rng}")
    if name == "customer":
        return (f"SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, "
                f"CAST(floor({u(1)} * 25) AS INTEGER) AS c_nationkey, "
                f"CAST(round(-999.99 + {u(2)} * 10999.79, 2) AS DOUBLE) AS c_acctbal, "
                f"{pick(3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment "
                f"FROM {rng}")
    if name == "supplier":
        return (f"SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name, "
                f"CAST(floor({u(11)} * 25) AS INTEGER) AS s_nationkey, "
                f"CAST(round(-999.99 + {u(12)} * 10999.79, 2) AS DOUBLE) AS s_acctbal FROM {rng}")
    if name == "part":
        adj = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
        noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
        return (f"SELECT i AS p_partkey, {pick(21, adj)} || ' ' || {pick(22, noun)} AS p_name, "
                f"'Brand#' || (1 + CAST(floor({u(23)} * 25) AS INTEGER)) AS p_brand, "
                f"{pick(24, ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type, "
                f"1 + CAST(floor({u(25)} * 50) AS INTEGER) AS p_size, "
                f"CAST(round(900 + (i % 1000) * 0.1, 1) AS DOUBLE) AS p_retailprice FROM {rng}")
    if name == "orders":
        return (f"SELECT i AS o_orderkey, CAST(floor({u(31)} * {c}) AS BIGINT) AS o_custkey, "
                f"{pick(32, ['F', 'O', 'P'])} AS o_orderstatus, "
                f"CAST(round(1000 + {u(33)} * 499000, 2) AS DOUBLE) AS o_totalprice, "
                f"TIMESTAMP '1995-01-01' + to_days(CAST(floor({u(34)} * 2404) AS INTEGER)) AS o_orderdate, "
                f"{pick(35, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority "
                f"FROM {rng}")
    if name == "lineitem":
        return (f"SELECT CAST(floor({u(41)} * {o}) AS BIGINT) AS l_orderkey, "
                f"CAST(floor({u(42)} * {p}) AS BIGINT) AS l_partkey, "
                f"CAST(floor({u(43)} * {s}) AS BIGINT) AS l_suppkey, "
                f"1 + CAST(floor({u(44)} * 7) AS INTEGER) AS l_linenumber, "
                f"CAST(1 + floor({u(45)} * 50) AS DOUBLE) AS l_quantity, "
                f"CAST(round(900 + {u(46)} * 104099, 2) AS DOUBLE) AS l_extendedprice, "
                f"CAST(floor({u(47)} * 11) / 100.0 AS DOUBLE) AS l_discount, "
                f"CAST(floor({u(48)} * 9) / 100.0 AS DOUBLE) AS l_tax, "
                f"{pick(49, ['A', 'N', 'R'])} AS l_returnflag, "
                f"{pick(50, ['F', 'O'])} AS l_linestatus, "
                f"TIMESTAMP '1995-01-02' + to_days(CAST(floor({u(51)} * 2498) AS INTEGER)) AS l_shipdate "
                f"FROM {rng}")
    if name == "events":
        # ids in time order; values exponential with mean 50
        return (f"SELECT row_number() OVER (ORDER BY ts, i) - 1 AS event_id, * EXCLUDE (i) FROM ("
                f"SELECT i, "
                f"TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor({u(61)} * 2592000000000) AS BIGINT)) AS ts, "
                f"CAST(floor({u(62)} * {max(1, int(sizes['events'] * 0.015))}) AS BIGINT) AS user_id, "
                f"{pick(63, ['click', 'error', 'purchase', 'signup', 'view'])} AS event_type, "
                f"CAST(greatest(0.01, round(-50 * ln(1 - {u(64)}), 2)) AS DOUBLE) AS value, "
                f"'{{\"k\": ' || CAST(floor({u(66)} * 100) AS INTEGER) || '}}' AS props "
                f"FROM {rng}) ORDER BY event_id")
    if name == "documents":
        vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
        words = (f"list_transform(range(0, 10 + CAST(floor({u(71)} * 91) AS INTEGER)), "
                 f"k -> {vocab}[1 + CAST(hash(i, k, 72, {seed}) % {len(VOCAB)} AS INTEGER)])")
        # 5% of the docs are another doc with " dup" appended
        base = f"SELECT i, array_to_string({words}, ' ') AS w FROM {rng}"
        src = (f"CASE WHEN {u(73)} < 0.05 THEN "
               f"(i + 1 + CAST(hash(i, 74, {seed}) % {max(1, n - 1)} AS BIGINT)) % {n} "
               f"ELSE i END")
        text = "CASE WHEN d.src <> d.i THEN b.w || ' dup' ELSE b.w END"
        lang = (f"CASE WHEN {u(76, 'd.i')} < 0.4 THEN 'en' ELSE "
                f"['de', 'es', 'fr', 'zh'][1 + CAST(floor({u(77, 'd.i')} * 4) AS INTEGER)] END")
        return (f"WITH base AS ({base}), "
                f"d AS (SELECT i, {src} AS src FROM {rng}) "
                f"SELECT d.i AS doc_id, {text} AS text, {lang} AS lang, "
                f"'src' || (d.i % 20) AS source, "
                f"CAST(length({text}) AS BIGINT) AS n_chars "
                f"FROM d JOIN base b ON b.i = d.src ORDER BY doc_id")
    if name == "embeddings":
        raw = f"list_transform(range(0, 64), k -> {gauss(81, 'i, k')})"
        return (f"WITH r AS (SELECT i, {raw} AS v FROM {rng}) "
                f"SELECT i AS vec_id, CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) "
                f"AS FLOAT[]) AS embedding, CAST(floor({u(80)} * 10) AS INTEGER) AS label FROM r")
    raise ValueError(name)


def generate(out, seed, sf):
    """Write every table under `out` (created; must not exist yet).
    Returns {table: row count}."""
    sizes = rows(sf)
    os.makedirs(out)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{out}.duckdb-tmp'")
    con.execute("SET preserve_insertion_order = true")
    for name in NAMES:
        con.execute(
            f"COPY ({table_sql(name, sizes[name], seed, sizes)}) TO "
            f"'{out}/{name}.parquet' (FORMAT parquet, COMPRESSION snappy)")
    con.close()
    return sizes
