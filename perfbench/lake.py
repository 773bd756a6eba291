"""Seeded input lake for the benchmark, generated with DuckDB.

The lake has the ten tables and the exact column names and types the engine's
loaders expect (``plans/tables.py``): a TPC-H-like star (region, nation,
customer, supplier, part, orders, lineitem), an ``events`` stream table, a
``documents`` corpus and 64-dimensional ``embeddings``.

Row counts are those of the engine's sf0.01 test lake, a tenth of its sf0.1
lake, except events at a quarter of that (see ``SIZES``); the value
distributions copy figures measured on the sf0.1 lake:

- rows at sf0.1: customer 15,000, supplier 1,000, part 20,000, orders
  150,000, lineitem 600,000, events 100,000, documents 5,000, embeddings
  2,000; nation 25 and region 5 at every scale. At sf0.01: a tenth of each,
  except 500 embeddings.
- events: ``user_id`` uniform over 0..1499 at sf0.1 (150 users at sf0.01),
  so ``user_id % 120`` -- the noise sources' latitude row -- covers all 120
  rows of the lattice; ``ts`` spread evenly over the 30 days from
  2024-01-01; ``value`` exponential with mean 50 (measured mean 49.9,
  quantiles 10/50/90/99 % = 5.4/34.8/114.3/228.1); five event types,
  20 % each. The radius join's input is the distinct ``(user_id % 120,
  event_id % 240)`` lattice points: 8,335 at sf0.01, 27,862 at sf0.1.
- orders dated 1995-01-01..2001-08-01, lineitems shipped 1995-01-02..
  2001-11-04; quantity 1..50, discount 0..0.10, tax 0..0.08; 5 order
  priorities, 3 order statuses, 3 return flags; 5 market segments, 25
  brands, 6 part types.
- documents: 10 to 100 words from a 31-word vocabulary (mean 54 words,
  297 characters); 5 % repeat an earlier document plus `` dup``; 40 %
  ``en``, the rest ``de``/``es``/``fr``/``zh``; 20 sources.
- embeddings: unit 64-dimensional vectors in 10 labelled clusters.

Every value is a pure function of ``(seed, row key)`` through DuckDB's
``hash``, so one seed always yields the same lake and any two seeds give
different data of the same shape. Keys are consistent by construction: every
lineitem names an existing order, part and supplier; every order an existing
customer. Rows are written in a seeded order, so the physical row order also
varies with the seed. The engine only ever receives the lake's path.

Run as a script (``python3 lake.py ROOT SEED [SCALE]``) it builds the lake
in its own process and prints its path.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Row counts: those of the engine's sf0.01 test lake, a tenth of sf0.1 (see
# the module docstring for the measured figures), except events at a quarter
# of that, so about 2,350 radius-join sources instead of 8,335. The noise
# workload's DuckDB oracles cross-join every grid cell with every source; at
# the sf0.01 event count the dense grid's oracle alone took 10.6 s of each
# run, and at half of it a noise run took 66-73 s on a throttled 4-core host.
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 2_500,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector "
    "window"
).split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = "click error purchase signup view".split()


def _lit_list(words: list[str]) -> str:
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + "]"


def _tables_sql(seed: int, scale: float) -> dict[str, str]:
    """One SELECT per table. ``u(k, s)`` is a uniform draw in [0, 1) keyed by
    the row key ``k`` and a per-column salt ``s``; ``pick`` indexes a list."""
    n = {k: max(1, round(v * scale)) for k, v in SIZES.items()}
    n["users"] = SIZES["users"]  # unscaled: the sources cover every lattice row
    s = int(seed)

    def u(key: str, salt: int) -> str:
        return f"(hash({key}, {salt}, {s}) % 1000003) / 1000003.0"

    def pick(words: list[str], key: str, salt: int) -> str:
        return f"{_lit_list(words)}[1 + CAST(floor({u(key, salt)} * {len(words)}) AS INTEGER)]"

    def ts(lo: str, span_days: int, key: str, salt: int) -> str:
        return (
            f"TIMESTAMP '{lo}' + to_days(CAST(floor({u(key, salt)} * {span_days}) AS INTEGER))"
        )

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    words = (
        f"list_transform(range(10 + CAST(floor({u('i', 401)} * 91) AS INTEGER)), "
        f"j -> {_lit_list(_VOCAB)}[1 + CAST(floor(((hash(i, j, 402, {s}) % 1000003) / 1000003.0)"
        f" * {len(_VOCAB)}) AS INTEGER)])"
    )
    base_text = f"array_to_string({words}, ' ')"
    vec = (
        f"list_transform(range(64), j -> (((hash(i, j, 502, {s}) % 1000003) / 1000003.0) - 0.5)"
        f" + 0.8 * (((hash(label, j, 503, {s}) % 1000003) / 1000003.0) - 0.5))"
    )
    span_us = 30 * 86_400 * 1_000_000
    return {
        "region": "SELECT CAST(i AS INTEGER) AS r_regionkey, "
        f"{_lit_list(regions)}[i + 1] AS r_name FROM range(5) t(i)",
        "nation": "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
        "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)",
        "customer": "SELECT CAST(i AS BIGINT) AS c_custkey, "
        "'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, "
        f"CAST(floor({u('i', 101)} * 25) AS INTEGER) AS c_nationkey, "
        f"round(-999.99 + {u('i', 102)} * 10999.98, 2) AS c_acctbal, "
        f"{pick(_SEGMENTS, 'i', 103)} AS c_mktsegment "
        f"FROM range({n['customer']}) t(i)",
        "supplier": "SELECT CAST(i AS BIGINT) AS s_suppkey, "
        "'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name, "
        f"CAST(floor({u('i', 111)} * 25) AS INTEGER) AS s_nationkey, "
        f"round(-999.99 + {u('i', 112)} * 10999.98, 2) AS s_acctbal "
        f"FROM range({n['supplier']}) t(i)",
        "part": "SELECT CAST(i AS BIGINT) AS p_partkey, "
        f"{pick(_ADJ, 'i', 121)} || ' ' || {pick(_NOUN, 'i', 122)} AS p_name, "
        f"'Brand#' || (1 + CAST(floor({u('i', 123)} * 25) AS INTEGER)) AS p_brand, "
        f"{pick(_TYPES, 'i', 124)} AS p_type, "
        f"1 + CAST(floor({u('i', 125)} * 50) AS INTEGER) AS p_size, "
        "CAST(round(900.0 + (i % 1000) * 0.1, 1) AS DOUBLE) AS p_retailprice "
        f"FROM range({n['part']}) t(i)",
        "orders": "SELECT CAST(i AS BIGINT) AS o_orderkey, "
        f"CAST(floor({u('i', 131)} * {n['customer']}) AS BIGINT) AS o_custkey, "
        f"{pick(['F', 'O', 'P'], 'i', 132)} AS o_orderstatus, "
        f"round(1000.0 + {u('i', 133)} * 499000.0, 2) AS o_totalprice, "
        f"{ts('1995-01-01', 2404, 'i', 134)} AS o_orderdate, "
        f"{pick(_PRIORITIES, 'i', 135)} AS o_orderpriority "
        f"FROM range({n['orders']}) t(i)",
        "lineitem": "SELECT "
        f"CAST(floor({u('i', 141)} * {n['orders']}) AS BIGINT) AS l_orderkey, "
        f"CAST(floor({u('i', 142)} * {n['part']}) AS BIGINT) AS l_partkey, "
        f"CAST(floor({u('i', 143)} * {n['supplier']}) AS BIGINT) AS l_suppkey, "
        f"1 + CAST(floor({u('i', 144)} * 7) AS INTEGER) AS l_linenumber, "
        f"1.0 + floor({u('i', 145)} * 50) AS l_quantity, "
        f"round(900.0 + {u('i', 146)} * 104100.0, 2) AS l_extendedprice, "
        f"floor({u('i', 147)} * 11) / 100.0 AS l_discount, "
        f"floor({u('i', 148)} * 9) / 100.0 AS l_tax, "
        f"{pick(['A', 'N', 'R'], 'i', 149)} AS l_returnflag, "
        f"{pick(['F', 'O'], 'i', 150)} AS l_linestatus, "
        f"{ts('1995-01-02', 2498, 'i', 151)} AS l_shipdate "
        f"FROM range({n['lineitem']}) t(i)",
        "events": "SELECT CAST(i AS BIGINT) AS event_id, "
        "TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor((i + "
        f"{u('i', 161)}) * {span_us // n['events']}) AS BIGINT)) AS ts, "
        f"CAST(floor({u('i', 162)} * {n['users']}) AS BIGINT) AS user_id, "
        f"{pick(_EVENT_TYPES, 'i', 163)} AS event_type, "
        f"round(-50.0 * ln(1.0 - {u('i', 164)} * 0.999999), 2) AS value, "
        f"'{{\"k\": ' || CAST(floor({u('i', 165)} * 100) AS INTEGER) || '}}' AS props "
        f"FROM range({n['events']}) t(i)",
        "documents": f"WITH base AS (SELECT i, {base_text} AS text FROM range({n['documents']}) t(i)), "
        "docs AS (SELECT CAST(d.i AS BIGINT) AS doc_id, "
        # 5 % of documents repeat an earlier document's text plus ` dup`
        f"CASE WHEN d.i > 0 AND {u('d.i', 404)} < 0.05 THEN src.text || ' dup' ELSE d.text END AS text, "
        f"CASE WHEN {u('d.i', 405)} < 0.4 THEN 'en' ELSE "
        f"{pick(['de', 'es', 'fr', 'zh'], 'd.i', 406)} END AS lang, "
        "'src' || (d.i % 20) AS source "
        f"FROM base d JOIN base src ON src.i = CAST(floor({u('d.i', 403)} * d.i) AS BIGINT)) "
        "SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars FROM docs",
        "embeddings": f"WITH lab AS (SELECT i, CAST(floor({u('i', 501)} * 10) AS INTEGER) AS label "
        f"FROM range({n['embeddings']}) t(i)), raw AS (SELECT i, label, {vec} AS v FROM lab) "
        "SELECT CAST(i AS BIGINT) AS vec_id, "
        "CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))"
        " AS FLOAT[]) AS embedding, label FROM raw",
    }


def lake_path(root: str, seed: int, scale: float = 1.0) -> str:
    """Where the lake for ``seed`` lives under ``root``. The name carries a
    digest of the generating SQL, so a changed generator never reuses a lake
    cached by an older one."""
    digest = hashlib.sha1(repr(_tables_sql(seed, scale)).encode()).hexdigest()[:10]
    return os.path.join(root, f"seed_{int(seed)}_x{scale:g}_{digest}")


def build_lake(root: str, seed: int, scale: float = 1.0) -> str:
    """Generate (or reuse) the lake for ``seed`` under ``root``; return its path.

    ``scale`` multiplies every row count of ``SIZES``. A finished lake carries
    a ``_SUCCESS`` marker; a partial one is rebuilt.
    """
    out = lake_path(root, seed, scale)
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        for name, sql in _tables_sql(seed, scale).items():
            path = os.path.join(tmp, f"{name}.parquet")
            con.execute(
                f"COPY (SELECT * FROM ({sql}) t ORDER BY hash(t, {int(seed)})) "
                f"TO '{path}' (FORMAT PARQUET)"
            )
    finally:
        con.close()
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    root, seed = sys.argv[1], int(sys.argv[2])
    print(build_lake(root, seed, float(sys.argv[3]) if len(sys.argv) > 3 else 1.0))
