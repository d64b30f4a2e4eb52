"""Independent output checks, run outside the timed region.

Exports: DuckDB computes last-write-wins over the generated cell file
(``arg_max(value, ts)`` per row key and qualifier, then a pivot), and the
four expected outputs are derived from that in Python with the reference's
null rules.  Each written output is read back through Spark and compared
on row count and an order-independent checksum (the sum of each row's
MD5 prefix, mod 2**64).

Queries: every mix query's collected result goes through
``tools/check_oracle.compare`` against its ``oracle_sql()`` text in DuckDB
over the same generated tables.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from dataclasses import dataclass

import duckdb

from gen import FAMILY, ROW_KEY_COLUMN, SCHEMA_COLUMNS

DELIMITER = "|"
_SEP, _NULL = "\x1f", "\x00"


@dataclass(frozen=True)
class Digest:
    rows: int
    checksum: int


def digest(items) -> Digest:
    n, total = 0, 0
    for s in items:
        n += 1
        total += int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
    return Digest(n, total % (1 << 64))


def _record(values) -> str:
    return _SEP.join(_NULL if v is None else str(v) for v in values)


def expected_exports(cells_path: str) -> dict[str, Digest]:
    """Digests the four README exports must have, per format.

    A row key none of whose cells has a schema qualifier never reaches the
    pivot (it projects schema qualifiers before grouping), so no format
    emits it: the ``qualifier IN (...)`` filter below drops it too."""
    cols = ", ".join(
        f"max(CASE WHEN qualifier = '{c}' THEN decode(v) END) AS \"{c}\""
        for c in SCHEMA_COLUMNS
    )
    quals = ", ".join(f"'{c}'" for c in SCHEMA_COLUMNS)
    sql = f"""
        WITH lww AS (
            SELECT row_key, qualifier, arg_max(value, ts) AS v
            FROM read_parquet('{cells_path}')
            WHERE cf = '{FAMILY}' AND qualifier IN ({quals})
            GROUP BY row_key, qualifier)
        SELECT row_key, {cols} FROM lww GROUP BY row_key
    """
    with duckdb.connect() as con:
        rows = con.execute(sql).fetchall()
    key_at = SCHEMA_COLUMNS.index(ROW_KEY_COLUMN)

    def with_key(row):
        vals = list(row[1:])
        if vals[key_at] is None:
            vals[key_at] = row[0]
        return vals

    def line(vals):
        return DELIMITER.join("" if v is None else v for v in vals)

    non_empty = [r for r in rows if any(v is not None for v in r[1:])]
    return {
        # Txt carries rowKeyColumn C1; Seq does not; both keep empty rows.
        "txt": digest(line(with_key(r)) for r in rows),
        "seq": digest(line(r[1:]) for r in rows),
        # Avro/Parquet drop rows with no schema cell; Parquet has C1.
        "avro": digest(_record(r[1:]) for r in non_empty),
        "parquet": digest(_record(with_key(r)) for r in non_empty),
    }


def actual_export(spark, fmt: str, path: str, avro_schema: str) -> Digest:
    """Read one written output back through Spark and digest it."""
    from hbase_tohdfs_spark.sinks import writers
    from hbase_tohdfs_spark.sources import readers

    if fmt == "txt":
        return digest(spark.read.text(path).toPandas()["value"])
    if fmt == "seq":
        return digest(writers.read_sequencefile_lines(spark, path).toPandas()["line"])
    if fmt == "avro":
        df = readers.read_avro(spark, path, reader_schema_json=avro_schema)
    else:
        df = readers.read_parquet(spark, path)
    return digest(_record(r) for r in df.select(*SCHEMA_COLUMNS).collect())


def table_digest(table_path: str) -> tuple[int, int]:
    """(cells, sum of ts) of a KV table or a cell file, read by DuckDB."""
    pattern = (
        os.path.join(table_path, "*.parquet") if os.path.isdir(table_path) else table_path
    )
    with duckdb.connect() as con:
        n, s = con.execute(
            f"SELECT count(*), coalesce(sum(ts), 0) FROM read_parquet('{pattern}')"
        ).fetchone()
    return int(n), int(s)


def load_check_oracle(root: str):
    """``tools/check_oracle.py`` of the checkout under test."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class Collected:
    """A collected result in the shape ``check_oracle.compare`` reads, so
    the query is not executed a second time for its check."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 — mirrors DataFrame.toPandas
        return self._pdf
