"""Output checks: DuckDB oracle digests and read-back of exported files.

Each request's oracle is the DuckDB SQL its ``QuerySpec`` declares, run
once per process on the same generated parquet files the program reads.
After every timed iteration the files the program exported (CSV or JSON
lines) are read back, parsed with the Spark schema of the DataFrame that
was written, canonicalised the way ``tests/conftest.py`` canonicalises
Spark and DuckDB values, and compared by digest. Export is therefore
checked too, not just the DataFrame.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import hashlib
import json
import math
import os
from decimal import Decimal

import duckdb

ORACLE_TABLES = ("orders", "lineitem", "documents", "embeddings")


def canon(v) -> str:
    """One cell as a comparable string. Empty strings read as NULL, because
    a CSV file cannot tell the two apart."""
    if v is None or v == "":
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) of the rows with columns sorted by name and rows
    sorted — an order-insensitive value hash."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


class Oracle:
    """DuckDB over the generated tables; one digest per request name."""

    def __init__(self, data_dir: str, threads: int, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        for t in ORACLE_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
            )

    def digest(self, sql: str) -> tuple[int, str]:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return digest(cols, res.fetchall())

    def close(self) -> None:
        self.con.close()


def _parse(text: str, dtype) -> object:
    """A CSV cell back into the Python value of its Spark type."""
    from pyspark.sql import types as T

    if text == "":
        return None
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(text)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(text)
    if isinstance(dtype, T.DecimalType):
        return Decimal(text)
    if isinstance(dtype, T.BooleanType):
        return text == "true"
    if isinstance(dtype, T.DateType):
        return dt.date.fromisoformat(text)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return dt.datetime.fromisoformat(text.replace("Z", "+00:00"))
    return text


def _from_json(v, dtype):
    """A JSON value back into the Python value of its Spark type."""
    from pyspark.sql import types as T

    if v is None:
        return None
    if isinstance(dtype, T.ArrayType):
        return [_from_json(x, dtype.elementType) for x in v]
    if isinstance(dtype, T.StructType):
        return {f.name: _from_json(v.get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dtype, T.DecimalType):
        return Decimal(str(v))
    if isinstance(v, str):
        return _parse(v, dtype)
    return v


def _part_files(path: str, suffix: str) -> list[str]:
    files = sorted(glob.glob(os.path.join(path, f"part-*{suffix}")))
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise FileNotFoundError(f"{path}: no _SUCCESS marker")
    return files


def read_back(path: str, fmt: str, schema) -> tuple[list[str], list[tuple], int]:
    """Rows, columns and byte size of an exported directory."""
    cols = [f.name for f in schema.fields]
    rows: list[tuple] = []
    nbytes = 0
    if fmt == "csv":
        for f in _part_files(path, ".csv"):
            nbytes += os.path.getsize(f)
            with open(f, newline="", encoding="utf-8") as fh:
                reader = csv.reader(fh, escapechar="\\", doublequote=False)
                header = next(reader, None)
                if header is not None and header != cols:
                    raise ValueError(f"{path}: header {header} != schema {cols}")
                for rec in reader:
                    rows.append(
                        tuple(_parse(x, fld.dataType) for x, fld in zip(rec, schema.fields))
                    )
    else:
        for f in _part_files(path, ".json"):
            nbytes += os.path.getsize(f)
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    obj = json.loads(line)
                    rows.append(
                        tuple(_from_json(obj.get(fld.name), fld.dataType) for fld in schema.fields)
                    )
    return cols, rows, nbytes
