"""Tests of the benchmark's own parts: the COPY csv parsers, the digest,
the seeded generator, the sink check, and a small end-to-end run.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import fixtures  # noqa: E402
import pgserver  # noqa: E402
from copycsv import digest_table, parse_copy_csv, read_copy_table  # noqa: E402

TEXT2 = [("a", "text"), ("b", "text")]


# ---------------------------------------------------------------- parser


@pytest.mark.parametrize(
    "payload, rows",
    [
        (',""\n', [[None, ""]]),  # unquoted empty is NULL, quoted empty is ""
        ('"",\n', [["", None]]),
        ('"a,b","say ""hi"""\n', [["a,b", 'say "hi"']]),
        ('"line1\nline2","cr\r\nlf"\n', [["line1\nline2", "cr\r\nlf"]]),
        ('x,y\r\nz,w\r\n', [["x", "y"], ["z", "w"]]),
        ('"\\.",a\n', [["\\.", "a"]]),  # a quoted \. is data
        ("a,b\n\\.\nc,d\n", [["a", "b"]]),  # an unquoted \. line ends the data
        ('"\n\\.\n",z\n', [["\n\\.\n", "z"]]),  # ... but not inside quotes
        ("ü,☃ 数据\n", [["ü", "☃ 数据"]]),
        ("NULL,\\N\n", [["NULL", "\\N"]]),  # only the empty unquoted field is NULL
    ],
)
def test_reference_parser_edges(payload, rows):
    assert parse_copy_csv(payload) == rows


@pytest.mark.parametrize(
    "payload",
    [
        ',""\n"a,b","say ""hi"""\n',
        '"line1\nline2","cr\r\nlf"\n',
        "a,b\n\\.\nc,d\n",
        '"\n\\.\n",z\n',
        "ü,☃ 数据\n",
    ],
)
def test_fast_parser_agrees_with_reference(payload):
    ref = pa.table({
        "c0": pa.array([r[0] for r in parse_copy_csv(payload)], pa.string()),
        "c1": pa.array([r[1] for r in parse_copy_csv(payload)], pa.string()),
    })
    assert read_copy_table(payload.encode(), TEXT2).equals(ref)


def test_unterminated_quote_is_an_error():
    with pytest.raises(ValueError):
        parse_copy_csv('"open,1\n')


def test_program_encoder_round_trips_edge_cells():
    from gcs2postgres_spark.sinks import copy_csv_line

    cells = [c for c in fixtures.EDGE_TEXT]
    payload = "".join(copy_csv_line([c, str(i)]) for i, c in enumerate(cells))
    got = read_copy_table(payload.encode(), TEXT2)
    assert got.column("c0").to_pylist() == cells
    assert parse_copy_csv(payload) == [[c, str(i)] for i, c in enumerate(cells)]


# ---------------------------------------------------------------- digest


def test_digest_is_order_independent_and_value_sensitive():
    t = pa.table({"c0": pa.array(range(200), pa.int64()), "c1": pa.array([f"v{i}" for i in range(200)])})
    perm = list(range(200))
    random.Random(7).shuffle(perm)
    assert digest_table(t) == digest_table(t.take(perm))
    changed = t.set_column(1, "c1", pa.array([f"v{i}" if i != 13 else "v13x" for i in range(200)]))
    assert digest_table(changed)[0] == 200
    assert digest_table(changed) != digest_table(t)
    swapped = t.set_column(1, "c1", pa.array([f"v{(i + 1) % 200}" for i in range(200)]))
    assert digest_table(swapped) != digest_table(t)  # same values, rows re-paired


def test_digest_distinguishes_null_from_empty():
    a = pa.table({"c0": pa.array([None, "x"], pa.string())})
    b = pa.table({"c0": pa.array(["", "x"], pa.string())})
    assert digest_table(a) != digest_table(b)


# ------------------------------------------------------------- generator


def _entry(tmp_path, seed, workload="table_fanout", build=fixtures.build_table_fanout):
    return fixtures.cached(str(tmp_path), workload, seed, build)


def _files(e):
    with open(os.path.join(e.path, "manifest.json")) as f:
        return json.load(f)["files"]


def test_generator_is_deterministic_per_seed(tmp_path):
    # built twice at the same place: Iceberg metadata holds absolute paths
    a = _entry(tmp_path, 5)
    a_files = _files(a)
    shutil.rmtree(a.path)
    b = _entry(tmp_path, 5)
    assert b.gen_s > 0 and _files(b) == a_files and b.meta == a.meta
    c = _entry(tmp_path, 6)
    assert _files(c) != a_files
    assert c.meta["tables"]["orders"]["digest"] != a.meta["tables"]["orders"]["digest"]


def test_cache_entry_is_verified_and_rebuilt(tmp_path):
    e = _entry(tmp_path, 5)
    assert _entry(tmp_path, 5).gen_s == 0.0  # reused
    with open(os.path.join(e.path, "orders.parquet"), "ab") as f:
        f.write(b"junk")
    again = _entry(tmp_path, 5)
    assert again.gen_s > 0 and again.meta == e.meta  # rebuilt, same content


def test_reconcile_oracle_rules():
    src = pa.table({"ID": pa.array([1, (1 << 32) + 5], pa.int64()), "Extra": pa.array(["x", "y"])})
    out = fixtures.reconcile_expected(src, [("id", "int4"), ("note", "text")])
    assert out.column("c0").to_pylist() == [1, 5]  # int8 -> int4 keeps the low 32 bits
    assert out.column("c1").to_pylist() == [None, None]  # missing column is NULL
    assert out.num_columns == 2  # extra column dropped


# ------------------------------------------------------------ sink check


def _copy_rows(server, rows, columns):
    from gcs2postgres_spark.sinks import copy_csv_line, copy_sql

    with pgserver.connect(server.dsn) as conn, conn.cursor() as cur:
        with cur.copy(copy_sql("t", [c for c, _ in columns])) as cp:
            cp.write("".join(copy_csv_line(r) for r in rows))


def test_planted_wrong_row_fails_the_sink_check(tmp_path):
    src = fixtures.copy_source(np.random.default_rng(3), 400)
    target = fixtures.COPY_TARGET
    want = fixtures.expected_digest(src, target)
    rows = [list(r.values()) for r in fixtures.reconcile_expected(src, target).to_pylist()]
    server = pgserver.ServerProcess(str(tmp_path))
    try:
        half = len(rows) // 2
        server.reset()
        _copy_rows(server, rows[:half], target)  # two connections, like two partitions
        _copy_rows(server, rows[half:], target)
        st = server.stats(target)
        assert (st["rows"], st["digest"]) == (want["rows"], want["digest"])
        assert st["copy_conns"] == 2 and st["bytes"] > 0 and st["first_byte"] is not None

        planted = [list(r) for r in rows]
        planted[17][13] = "" if planted[17][13] is None else None  # NULL <-> ""
        server.reset()
        _copy_rows(server, planted, target)
        st = server.stats(target)
        assert st["rows"] == want["rows"] and st["digest"] != want["digest"]
    finally:
        server.close()
    assert server.proc.returncode is not None


# ------------------------------------------------------------------ runs


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench")
    p = _run(tmp_path, "--workload", "copy_load", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert "correct" not in p.stdout


def test_smoke_table_fanout():
    p = _run(ROOT, "--workload", "table_fanout", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == {"setup_s", "rows_per_s", "wall_s", "cpu_s"}
    assert all(m["value"] > 0 for m in out["metrics"].values())
