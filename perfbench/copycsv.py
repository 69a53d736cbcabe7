"""PostgreSQL COPY (FORMAT csv) parsing and the order-independent row digest.

COPY csv reads an UNQUOTED empty field as NULL and a QUOTED empty field
(``""``) as the empty string; quoted fields may hold delimiters, doubled
quotes and CR/LF; an unquoted line holding only ``\\.`` ends the data.

Two parsers implement that grammar:

- ``parse_copy_csv``: a character-level reference parser in plain Python.
- ``read_copy_table``: the fast path, pyarrow's CSV reader configured to
  the same NULL rule. A payload with an unquoted-looking ``\\.`` line
  falls back to the reference parser, which decides it exactly.

``digest_table`` reduces typed rows to ``(row count, sum of row hashes)``
with DuckDB, so the sink's rows and the oracle's rows compare without
sorting and regardless of which encoder produced the text.
"""

from __future__ import annotations

import io
import re

import pyarrow as pa
import pyarrow.csv as pacsv

# Postgres target type -> canonical Arrow type the digest hashes. Every
# integer width hashes as int64, so a narrowed int4 and the oracle's
# wrapped int64 agree on value, not on width.
CANONICAL = {
    "int4": pa.int64(),
    "integer": pa.int64(),
    "int8": pa.int64(),
    "bigint": pa.int64(),
    "float8": pa.float64(),
    "double precision": pa.float64(),
    "text": pa.string(),
    "varchar": pa.string(),
    "boolean": pa.bool_(),
    "bool": pa.bool_(),
    "date": pa.date32(),
    "timestamp": pa.timestamp("us"),
}

_END_MARKER = re.compile(rb"(?:^|[\r\n])\\\.(?:\r\n|\r|\n|$)")


def parse_copy_csv(text: str) -> list[list[str | None]]:
    """Reference COPY csv parser: one list of fields per record, None for
    NULL (unquoted empty), ``""`` for a quoted empty field."""
    records: list[list[str | None]] = []
    fields: list[str | None] = []
    buf: list[str] = []
    quoted_any = False  # the current field contained a quote section
    in_quotes = False
    at_line_start = True
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if in_quotes:
            if c == '"':
                if i + 1 < n and text[i + 1] == '"':
                    buf.append('"')
                    i += 2
                    continue
                in_quotes = False
            else:
                buf.append(c)
            i += 1
            continue
        if at_line_start and text.startswith("\\.", i):
            rest = text[i + 2 : i + 4]
            if rest == "" or rest[0] in "\r\n":
                return records  # end-of-data marker
        at_line_start = False
        if c == '"':
            in_quotes = True
            quoted_any = True
        elif c == ",":
            fields.append("".join(buf) if (buf or quoted_any) else None)
            buf, quoted_any = [], False
        elif c in "\r\n":
            fields.append("".join(buf) if (buf or quoted_any) else None)
            records.append(fields)
            fields, buf, quoted_any = [], [], False
            if c == "\r" and i + 1 < n and text[i + 1] == "\n":
                i += 1
            at_line_start = True
        else:
            buf.append(c)
        i += 1
    if in_quotes:
        raise ValueError("unterminated quoted field at end of COPY data")
    if buf or quoted_any or fields:
        fields.append("".join(buf) if (buf or quoted_any) else None)
        records.append(fields)
    return records


def _cast_text(values: list[str | None], pg_type: str) -> pa.Array:
    t = CANONICAL[pg_type]
    arr = pa.array(values, pa.string())
    if pa.types.is_boolean(t):
        return pa.array([None if v is None else v.lower() in ("t", "true", "1") for v in values], t)
    if pa.types.is_timestamp(t):
        import datetime as _dt

        return pa.array([None if v is None else _dt.datetime.fromisoformat(v) for v in values], t)
    return arr.cast(t)


def records_to_table(records: list[list[str | None]], columns: list[tuple[str, str]]) -> pa.Table:
    """Typed table from reference-parser records (column order = COPY list)."""
    for r in records:
        if len(r) != len(columns):
            raise ValueError(f"COPY record has {len(r)} fields, expected {len(columns)}: {r!r}")
    cols = list(zip(*records)) if records else [[] for _ in columns]
    return pa.table(
        {f"c{i}": _cast_text(list(vals), t) for i, ((_, t), vals) in enumerate(zip(columns, cols))}
    )


def read_copy_table(payload: bytes, columns: list[tuple[str, str]]) -> pa.Table:
    """Parse one COPY csv stream into a typed table with columns c0..cN."""
    names = [f"c{i}" for i in range(len(columns))]
    if not payload.strip(b"\r\n"):
        return pa.table({n: pa.array([], CANONICAL[t]) for n, (_, t) in zip(names, columns)})
    if _END_MARKER.search(payload):
        return records_to_table(parse_copy_csv(payload.decode("utf-8")), columns)
    types = {n: CANONICAL[t] for n, (_, t) in zip(names, columns)}
    return pacsv.read_csv(
        io.BytesIO(payload),
        read_options=pacsv.ReadOptions(column_names=names, block_size=16 << 20),
        parse_options=pacsv.ParseOptions(newlines_in_values=True, double_quote=True),
        convert_options=pacsv.ConvertOptions(
            column_types=types,
            null_values=[""],
            strings_can_be_null=True,
            quoted_strings_can_be_null=False,
            true_values=["t", "true", "1"],
            false_values=["f", "false", "0"],
        ),
    )


def canonicalize(table: pa.Table, columns: list[tuple[str, str]]) -> pa.Table:
    """Cast each column to the canonical type of its Postgres target type
    and rename to c0..cN (the digest hashes by position)."""
    return pa.table(
        {f"c{i}": table.column(i).cast(CANONICAL[t]) for i, (_, t) in enumerate(columns)}
    )


def digest_table(table: pa.Table, con=None) -> tuple[int, str]:
    """Order-independent ``(rows, digest)`` of a canonical table: the sum
    of DuckDB's per-row hash over all columns, as a decimal string."""
    import duckdb

    own = con is None
    con = con or duckdb.connect()
    try:
        con.register("digest_input", table)
        cols = ", ".join(f'"{c}"' for c in table.column_names)
        n, s = con.sql(
            f"SELECT count(*), coalesce(sum(hash({cols})), 0)::VARCHAR FROM digest_input"
        ).fetchone()
        con.unregister("digest_input")
        return int(n), s
    finally:
        if own:
            con.close()
