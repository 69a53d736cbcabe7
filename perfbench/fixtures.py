"""Seeded inputs for the three workloads, cached per seed and generator
version, with their expected sink digests.

Inputs are built with NumPy/pyarrow/DuckDB. The expected rows are
derived from the same Arrow tables with pyarrow and NumPy, applying the
reconcile rules independently of the program (case-insensitive match,
NULL for a missing target column, extra source columns dropped, int8 ->
int4 keeping the low 32 bits as Spark's non-ANSI cast does), and reduced
with ``copycsv.digest_table``.

A cache entry is a directory holding the files and ``manifest.json``
(expected digests plus a sha256 per file). A reused entry is verified
file by file; a mismatch or a missing manifest rebuilds it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from copycsv import canonicalize, digest_table

GEN_VERSION = 1
KEEP_ENTRIES = 2  # cache entries kept per workload (other seeds are pruned)

COPY_ROWS = 100_000

# Cells that stress COPY csv quoting: NULL vs empty string, quotes,
# delimiters, CR/LF, the end-of-data marker, unicode, backslashes.
EDGE_TEXT = [
    None,
    "",
    '"',
    '""',
    'say "hi"',
    "a,b",
    ",",
    "line1\nline2",
    "cr\rlf\r\n",
    "\r\n",
    "\\.",
    "\\.\n\\.",
    "\\N",
    "NULL",
    "ünïcødé ☃ 数据 🚀",
    " padded ",
    "trailing\\",
]

WORDS = (
    "key agg row scan slow fast table value part hash a merge batch spark the line sort "
    "window data column join small customer query stream order group filter big vector"
).split()


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while chunk := f.read(1 << 20):
            h.update(chunk)
    return h.hexdigest()


def _files(root: str) -> list[str]:
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in fs if f != "manifest.json"]
    return sorted(out)


class Entry:
    """A verified cache entry: ``path`` plus the manifest's ``meta``."""

    def __init__(self, path: str, meta: dict, gen_s: float):
        self.path, self.meta, self.gen_s = path, meta, gen_s


def cached(cache_dir: str, workload: str, seed: int, build) -> Entry:
    """Return the entry for (workload, seed), building it with
    ``build(dir, rng) -> meta`` when absent or failing verification."""
    root = os.path.join(cache_dir, "fixtures")
    path = os.path.join(root, f"{workload}-v{GEN_VERSION}-seed{seed}")
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if m.get("files") == {p: _sha256(os.path.join(path, p)) for p in _files(path)}:
            return Entry(path, m["meta"], 0.0)
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    meta = build(path, np.random.default_rng([GEN_VERSION, seed]))
    files = {p: _sha256(os.path.join(path, p)) for p in _files(path)}
    with open(manifest + ".tmp", "w") as f:
        json.dump({"meta": meta, "files": files}, f)
    os.replace(manifest + ".tmp", manifest)
    gen_s = time.perf_counter() - t0
    # prune older seeds of this workload
    mine = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if d.startswith(workload + "-")),
        key=os.path.getmtime,
    )
    for old in mine[:-KEEP_ENTRIES]:
        if old != path:
            shutil.rmtree(old, ignore_errors=True)
    return Entry(path, meta, gen_s)


# --------------------------------------------------------------- helpers


def _text_pool(rng, n_pool: int, lo: int, hi: int) -> np.ndarray:
    lens = rng.integers(lo, hi, n_pool)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    out, k = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[j] for j in picks[k : k + ln]))
        k += ln
    return np.array(out, dtype=object)


def _strings(rng, n: int, pool: np.ndarray) -> pa.Array:
    return pa.array(pool[rng.integers(0, len(pool), n)], pa.string())


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    return np.datetime64(start, "D") + rng.integers(0, span_days, n).astype("timedelta64[D]")


def reconcile_expected(src: pa.Table, target: list[tuple[str, str]]) -> pa.Table:
    """The reconcile rules applied with pyarrow/NumPy (the oracle side)."""
    by_lower = {c.lower(): c for c in src.column_names}
    cols = {}
    for name, pg in target:
        s = by_lower.get(name.lower())
        if s is None:
            cols[name] = pa.nulls(src.num_rows, pa.string())
            continue
        col = src.column(s).combine_chunks()
        if pg in ("int4", "integer") and pa.types.is_integer(col.type):
            vals = col.to_numpy(zero_copy_only=False).astype(np.int64).astype(np.int32)
            col = pa.array(vals, mask=col.is_null().to_numpy(zero_copy_only=False))
        cols[name] = col
    return canonicalize(pa.table(cols), target)


def expected_digest(src: pa.Table, target: list[tuple[str, str]]) -> dict:
    rows, digest = digest_table(reconcile_expected(src, target))
    return {"rows": rows, "digest": digest}


# ------------------------------------------------------------- copy_load

COPY_TARGET = [
    ("l_orderkey", "int8"),
    ("l_partkey", "int8"),
    ("l_suppkey", "int4"),
    ("l_linenumber", "int4"),
    ("l_quantity", "float8"),
    ("l_extendedprice", "float8"),
    ("l_discount", "float8"),
    ("l_tax", "float8"),
    ("l_returnflag", "text"),
    ("l_linestatus", "text"),
    ("l_shipdate", "date"),
    ("l_commitdate", "timestamp"),
    ("l_shipmode", "text"),
    ("l_comment", "text"),
    ("l_load_note", "text"),  # absent from the source: NULL-filled
]


def copy_source(rng, n: int) -> pa.Table:
    """A lineitem-shaped table whose names differ in case from the target,
    with one extra column and int8 keys that overflow int4."""
    suppkey = rng.integers(0, 10_000, n).astype(np.int64)
    wide = rng.random(n) < 0.01
    suppkey[wide] += (np.int64(1) << 32) * rng.integers(1, 4, int(wide.sum()))  # wraps under int4
    comments = _text_pool(rng, 4096, 2, 9)[rng.integers(0, 4096, n)]
    edge_rows = rng.choice(n, size=min(n, 20 * len(EDGE_TEXT)), replace=False)
    for i, r in enumerate(edge_rows):
        comments[r] = EDGE_TEXT[i % len(EDGE_TEXT)]
    shipmode = np.array(["AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB", "REG AIR"], dtype=object)[
        rng.integers(0, 7, n)
    ]
    shipmode[rng.random(n) < 0.002] = None
    shipmode[rng.random(n) < 0.002] = ""
    commit = np.datetime64("1995-01-01T00:00:00", "us") + rng.integers(0, 7 * 365 * 86400, n).astype(
        "timedelta64[s]"
    )
    return pa.table(
        {
            "L_OrderKey": pa.array(np.sort(rng.integers(0, n // 4, n)).astype(np.int64)),
            "L_PARTKEY": pa.array(rng.integers(0, 200_000, n).astype(np.int64)),
            "l_SuppKey": pa.array(suppkey),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "L_QUANTITY": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(_days(rng, n, "1995-01-02", 2500)),
            "l_commitdate": pa.array(commit, pa.timestamp("us")),
            "L_ShipMode": pa.array(shipmode, pa.string()),
            "l_comment": pa.array(comments, pa.string()),
            "l_receipt_blob": pa.array(rng.integers(0, 1 << 30, n).astype(np.int64)),  # extra
        }
    )


def build_copy_load(path: str, rng, rows: int = COPY_ROWS) -> dict:
    src = copy_source(rng, rows)
    # one file, one row group: the engine decides the sink's parallelism
    pq.write_table(src, os.path.join(path, "lineitem.parquet"), row_group_size=rows)
    return {"file": "lineitem.parquet", "target": COPY_TARGET, **expected_digest(src, COPY_TARGET)}


# ---------------------------------------------------------- table_fanout

FANOUT_TABLES = {
    # table: (format, target schema)
    "orders": (
        "parquet",
        [("o_orderkey", "int8"), ("o_custkey", "int8"), ("o_orderstatus", "text"),
         ("o_totalprice", "float8"), ("o_orderdate", "date"), ("o_orderpriority", "text"),
         ("o_clerk", "text")],
    ),
    "lineitem": (
        "parquet",
        [("l_orderkey", "int8"), ("l_partkey", "int8"), ("l_suppkey", "int4"),
         ("l_quantity", "float8"), ("l_extendedprice", "float8"), ("l_shipdate", "date")],
    ),
    "customer": (
        "csv",
        [("c_custkey", "int8"), ("c_name", "text"), ("c_nationkey", "int4"),
         ("c_acctbal", "float8"), ("c_mktsegment", "text")],
    ),
    "events": (
        "json",
        [("event_id", "int8"), ("user_id", "int8"), ("event_type", "text"),
         ("value", "float8"), ("props", "text")],
    ),
    "supplier": (
        "avro",
        [("s_suppkey", "int8"), ("s_name", "text"), ("s_nationkey", "int4"),
         ("s_acctbal", "float8"), ("s_comment", "text")],
    ),
    "part": (
        "iceberg",
        [("p_partkey", "int8"), ("p_name", "text"), ("p_brand", "text"), ("p_size", "int4"),
         ("p_retailprice", "float8")],
    ),
}

FANOUT_ROWS = {
    "orders": 40_000,
    "lineitem": 80_000,
    "customer": 15_000,
    "events": 15_000,
    "supplier": 5_000,
    "part": 15_000,
}


def fanout_sources(rng) -> dict[str, pa.Table]:
    r = FANOUT_ROWS
    names = _text_pool(rng, 512, 1, 3)
    n = r["orders"]
    orders = pa.table({
        "O_ORDERKEY": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"], dtype=object)[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", 2400)),
        "o_orderpriority": pa.array(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)[
                rng.integers(0, 5, n)]),
    })  # o_clerk is missing: NULL-filled
    n = r["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, r["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n).astype(np.int64)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", 2500)),
        "l_comment": _strings(rng, n, names),  # extra column: dropped
    })
    n = r["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int64)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
        "c_mktsegment": pa.array(
            np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)[
                rng.integers(0, 5, n)]),
    })
    n = r["events"]
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "user_id": pa.array(rng.integers(0, 5000, n).astype(np.int64)),
        "event_type": pa.array(
            np.array(["view", "click", "purchase", "signup", "error"], dtype=object)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0.01, 500, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    n = r["supplier"]
    supplier = pa.table({
        "S_SUPPKEY": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
        "s_comment": _strings(rng, n, names),
    })
    n = r["part"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "P_Name": _strings(rng, n, names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 1000, n), 2)),
    })
    return {"orders": orders, "lineitem": lineitem, "customer": customer, "events": events,
            "supplier": supplier, "part": part}


def _write_avro_dir(table: pa.Table, out_dir: str, files: int) -> None:
    from gcs2postgres_spark.sources.avro_py import write_avro_file

    kinds = {pa.int64(): "long", pa.int32(): "int", pa.float64(): "double", pa.string(): "string"}
    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": f.name, "type": ["null", kinds[f.type]]} for f in table.schema],
    }
    os.makedirs(out_dir)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step).to_pylist()
        write_avro_file(os.path.join(out_dir, f"part-{i:05d}.avro"), schema, part)


def _write_iceberg(table: pa.Table, out_dir: str, files: int) -> None:
    from pyspark.sql import types as T

    from gcs2postgres_spark.sources import iceberg_py as ice

    data = os.path.join(out_dir, "data")
    os.makedirs(data)
    step = -(-table.num_rows // files)
    paths = []
    for i in range(files):
        p = os.path.join(data, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), p)
        paths.append(p)
    kinds = {pa.int64(): T.LongType(), pa.int32(): T.IntegerType(), pa.float64(): T.DoubleType(),
             pa.string(): T.StringType()}
    st = T.StructType([T.StructField(f.name, kinds[f.type], True) for f in table.schema])
    mdir = os.path.join(out_dir, "metadata")
    os.makedirs(mdir)
    manifest = os.path.join(mdir, "manifest-1.avro")
    ice.write_manifest(manifest, [ice.data_file_entry(p, status=1, snapshot_id=1) for p in paths])
    mlist = os.path.join(mdir, "snap-1.avro")
    ice.write_manifest_list(mlist, [manifest], snapshot_id=1)
    ice.write_snapshot_metadata(out_dir, st, [{"snapshot-id": 1, "manifest-list": mlist}], 1)


def build_table_fanout(path: str, rng) -> dict:
    import duckdb

    srcs = fanout_sources(rng)
    files = {}
    con = duckdb.connect()
    for table, (fmt, target) in FANOUT_TABLES.items():
        src = srcs[table]
        if fmt == "parquet":
            rel = f"{table}.parquet"
            pq.write_table(src, os.path.join(path, rel), row_group_size=src.num_rows)
        elif fmt in ("csv", "json"):
            rel = f"{table}.{fmt}"
            con.register("src", src)
            opts = "FORMAT csv, HEADER" if fmt == "csv" else "FORMAT json"
            con.sql(f"COPY src TO '{os.path.join(path, rel)}' ({opts})")
            con.unregister("src")
        elif fmt == "avro":
            rel = f"{table}.avro"  # a directory of part files
            _write_avro_dir(src, os.path.join(path, rel), files=4)
        else:
            rel = f"{table}.iceberg"
            _write_iceberg(src, os.path.join(path, rel), files=2)
        files[table] = {"path": rel, "format": fmt, "target": target, **expected_digest(src, target)}
    con.close()
    return {"tables": files}


# -------------------------------------------------------- analytic_suite

ANALYTIC_SF = 0.01


def analytic_tables(rng, sf: float = ANALYTIC_SF) -> dict[str, pa.Table]:
    """The ten tables of the query suite, in the shapes the catalog expects
    (TPC-H-like star schema, an events stream, documents, embeddings)."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_evt, n_doc, n_vec = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    n_users = max(10, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)[
            rng.integers(0, 5, n_cust)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    colors = ["red", "blue", "green", "black", "white", "small", "large", "shiny"]
    nouns = ["widget", "bolt", "ring", "anvil", "gear", "spring", "valve", "lever"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{colors[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"],
                                    dtype=object)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    orderdate = np.datetime64("1995-01-01", "D") + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(orderdate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)[
            rng.integers(0, 5, n_ord)]),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    ship = np.repeat(orderdate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_evt)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": pa.array(np.array(["view", "click", "purchase", "signup", "error"], dtype=object)[
            rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.round(rng.uniform(0.01, 490, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    # independent random texts, like the repository's testdata corpus: the
    # MinHash-LSH queries match their exact oracle only on corpora without
    # pairs near the 0.4 Jaccard threshold (8 bands x 4 rows misses some)
    texts = _text_pool(rng, n_doc, 8, 80)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(["en", "en", "en", "de", "fr", "es", "zh"], dtype=object)[
            rng.integers(0, 7, n_doc)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    emb = rng.normal(0, 0.12, (n_vec, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    return t


def build_analytic(path: str, rng) -> dict:
    rows = {}
    for name, table in analytic_tables(rng).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        rows[name] = table.num_rows
    return {"rows": rows}
