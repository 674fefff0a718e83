"""Output checks, independent of the engine under test.

Export outputs are read back from disk with pyarrow / the json module / a
small Avro container decoder of this file's own, canonicalized by the
column types DuckDB reports for the same SQL on the parquet master, and
compared as (row count, order-insensitive SHA-256 of the sorted rows).
Registry outputs are compared to their ``oracle_sql`` with
``tools/check.py``'s canonicalization (``frame_rows``), imported.
"""

from __future__ import annotations

import glob
import hashlib
import io
import json
import os
import struct
from datetime import date, datetime, timedelta

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.ipc as ipc
import pyarrow.json as pajson

_EPOCH = datetime(1970, 1, 1)


def _parts(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        p for p in glob.glob(os.path.join(path, "*"))
        if not os.path.basename(p).startswith((".", "_")) and os.path.isfile(p)
    )


def output_size(path: str) -> tuple[int, int]:
    """(data files, bytes) of a written output; markers/checksums excluded."""
    files = _parts(path)
    return len(files), sum(os.path.getsize(p) for p in files)


# ------------------------------------------------------------------ avro

def _long(buf: io.BytesIO) -> int:
    shift = u = 0
    while True:
        b = buf.read(1)[0]
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return (u >> 1) ^ -(u & 1)
        shift += 7


def _avro_value(buf: io.BytesIO, typ):
    if isinstance(typ, list):
        return _avro_value(buf, typ[_long(buf)])
    if isinstance(typ, dict):
        logical, base = typ.get("logicalType"), typ["type"]
        if base == "array":
            items = []
            while (n := _long(buf)) != 0:
                if n < 0:
                    n = -n
                    _long(buf)
                items += [_avro_value(buf, typ["items"]) for _ in range(n)]
            return items
        v = _avro_value(buf, base)
        if logical == "timestamp-micros":
            return _EPOCH + timedelta(microseconds=v)
        if logical == "date":
            return date(1970, 1, 1) + timedelta(days=v)
        return v
    if typ == "null":
        return None
    if typ == "boolean":
        return buf.read(1) == b"\x01"
    if typ in ("int", "long"):
        return _long(buf)
    if typ == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if typ == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if typ in ("string", "bytes"):
        raw = buf.read(_long(buf))
        return raw.decode() if typ == "string" else raw
    raise ValueError(f"avro type {typ!r} not decoded here")


def read_avro_rows(path: str) -> tuple[list[str], list[dict]]:
    """Rows of an uncompressed Avro object container file."""
    with open(path, "rb") as f:
        buf = io.BytesIO(f.read())
    if buf.read(4) != b"Obj\x01":
        raise ValueError(f"{path}: not an avro container file")
    meta = {}
    while (n := _long(buf)) != 0:
        for _ in range(abs(n)):
            k = buf.read(_long(buf)).decode()
            meta[k] = buf.read(_long(buf))
    if meta.get("avro.codec", b"null") != b"null":
        raise ValueError(f"{path}: codec {meta['avro.codec']!r} not decoded here")
    sync = buf.read(16)
    schema = json.loads(meta["avro.schema"])
    fields = [(fd["name"], fd["type"]) for fd in schema["fields"]]
    rows = []
    while buf.tell() < len(buf.getbuffer()):
        count = _long(buf)
        _long(buf)
        for _ in range(count):
            rows.append({name: _avro_value(buf, t) for name, t in fields})
        if buf.read(16) != sync:
            raise ValueError(f"{path}: bad sync marker")
    return [name for name, _ in fields], rows


# ------------------------------------------------------- canonical values

def kind_of(typ: pa.DataType) -> str:
    if pa.types.is_timestamp(typ) or pa.types.is_date(typ):
        return "ts"
    if pa.types.is_integer(typ):
        return "int"
    if pa.types.is_floating(typ) or pa.types.is_decimal(typ):
        return "float"
    return "str"


def canon(arr, kind: str) -> pa.Array:
    """One column as canonical strings, whatever type a reader produced:
    integers and floats by value, timestamps as ``YYYY-MM-DD HH:MM:SS``
    (UTC), nulls as ``NULL``."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    t = arr.type
    if kind == "ts":
        if pa.types.is_integer(t):  # epoch microseconds
            arr = arr.cast(pa.int64()).cast(pa.timestamp("us"))
        if not (pa.types.is_string(t) or pa.types.is_large_string(t)):
            arr = arr.cast(pa.timestamp("us")).cast(pa.string())
        out = pc.utf8_slice_codeunits(pc.replace_substring(arr, "T", " "), 0, 19)
    elif kind == "int":
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            arr = arr.cast(pa.float64())
        out = arr.cast(pa.int64()).cast(pa.string())
    elif kind == "float":
        out = arr.cast(pa.float64()).cast(pa.string())
    else:
        out = arr.cast(pa.string())
    return pc.fill_null(out, "NULL")


def canon_rows(tbl: pa.Table, kinds: dict[str, str]) -> list[str]:
    cols = sorted(kinds)
    if tbl.num_rows == 0:
        return []
    if sorted(tbl.column_names) != cols:
        raise ValueError(f"columns {sorted(tbl.column_names)} != expected {cols}")
    parts = [canon(tbl.column(c), kinds[c]) for c in cols]
    return pc.binary_join_element_wise(*parts, "\x1f").to_pylist()


def digest(cols: list[str], rows: list[str]) -> tuple[int, str]:
    """(row count, SHA-256 over the sorted canonical rows)."""
    h = hashlib.sha256(("|".join(cols) + "\n").encode())
    h.update("\n".join(sorted(rows)).encode())
    return len(rows), h.hexdigest()


def _part_tables(path: str, fmt: str) -> list[pa.Table]:
    """Each data file of an output as its own table (readers infer types
    per file, so parts are canonicalized before they are combined)."""
    parts = _parts(path)
    if fmt in ("parquet", "orc", "csv"):
        return [ds.dataset(p, format=fmt).to_table() for p in parts]
    if fmt == "arrow":
        return [ipc.open_file(p).read_all() for p in parts]
    if fmt in ("ndjson", "json"):
        return [pajson.read_json(p) for p in parts if os.path.getsize(p)]
    if fmt == "avro":
        names, rows = read_avro_rows(path)
        return [pa.table({n: pa.array([r[n] for r in rows]) for n in names})] if rows else []
    raise ValueError(f"no reader for {fmt!r}")


def export_digest(path: str, fmt: str, kinds: dict[str, str]) -> tuple[int, str]:
    """Digest of an export output read back from disk."""
    rows = [r for t in _part_tables(path, fmt) for r in canon_rows(t, kinds)]
    return digest(sorted(kinds), rows)


def oracle_export(con, master: str, q: dict) -> dict:
    """DuckDB answer for one export query on the parquet master."""
    sql = f"SELECT {', '.join(q['cols'])} FROM read_parquet('{master}') WHERE {q['where']}"
    tbl = con.execute(sql).arrow()
    kinds = {f.name: kind_of(f.type) for f in tbl.schema}
    n, h = digest(sorted(kinds), canon_rows(tbl, kinds))
    return {"kinds": kinds, "rows": n, "sha": h}


def registry_digest(frame_rows, df) -> tuple[list[str], int, str]:
    """Canonical digest of a pandas frame via ``tools/check.frame_rows``.
    Timezone-aware columns (Spark's session-UTC timestamps read back from
    parquet) become naive UTC, the form Spark's own ``toPandas`` hands the
    oracle gate."""
    for c in df.columns:
        if hasattr(df[c].dtype, "tz") and df[c].dtype.tz is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    rows = frame_rows(df)
    cols = sorted(df.columns)
    h = hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()
    return cols, len(rows), h
