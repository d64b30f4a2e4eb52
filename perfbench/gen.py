"""Seeded input generators for the benchmark workloads.

Everything here is driver-side NumPy + PyArrow: the program under test
receives only the files written by these functions, and the same seed
always writes the same bytes.

* :func:`write_kv_cells` — the narrow HBase-style cell file that the
  export workloads bulk-load through ``table.write_cells``.
* :func:`write_analytics_tables` — the ten tables the registry queries
  read (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the column names and types of the
  ``sf*`` test data the queries were written against.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUALIFIERS = [f"C{i}" for i in range(10)]
FAMILY = "c"

#: Export schema of the README walkthrough: C1, C3..C8, row-key column C1.
SCHEMA_COLUMNS = ["C1", "C3", "C4", "C5", "C6", "C7", "C8"]
ROW_KEY_COLUMN = "C1"
SPARSE_QUALIFIERS = ["C0", "C2", "C9"]
SPARSE_ROW_SHARE = 0.05


def avro_schema_json() -> str:
    fields = ", ".join(f'{{"name": "{c}", "type": "string"}}' for c in SCHEMA_COLUMNS)
    return (
        '{"namespace": "example.avro", "type": "record", "name": "Test", '
        f'"fields": [{fields}]}}'
    )


def write_schema_files(directory: str) -> tuple[str, str]:
    """Write the CSV and Avro export schemas; returns their paths."""
    csv_path = os.path.join(directory, "schema.csv")
    avsc_path = os.path.join(directory, "schema.avsc")
    with open(csv_path, "w", encoding="utf-8") as fh:
        fh.write(",".join(SCHEMA_COLUMNS) + "\n")
    with open(avsc_path, "w", encoding="utf-8") as fh:
        fh.write(avro_schema_json())
    return csv_path, avsc_path


def write_kv_cells(path: str, seed: int, rows: int, versions: int) -> int:
    """Write ``(row_key, cf, qualifier, value, ts)`` cells to one parquet
    file in random order; returns the cell count.

    Most row keys get all ten qualifiers ``C0..C9``, as PopulateTable
    writes them (the README's Avro schema declares every field
    non-nullable).  A seeded :data:`SPARSE_ROW_SHARE` of row keys carry
    only :data:`SPARSE_QUALIFIERS`, none of which the export schema names:
    the pivot projects schema qualifiers before grouping, so no export may
    emit those rows.  Every (row, qualifier) coordinate carries
    ``versions`` cells with random ``counter:N`` values; ``ts`` is a seeded
    permutation of the global cell index, so it is unique per coordinate
    (the precondition of ``pivot.last_write_wins``) and the newest version
    sits at a random position in the file.  Row keys follow PopulateTable's
    ``lpad(keyRoot, 5) | runID | taskId`` shape.
    """
    rng = np.random.default_rng(seed)
    ids = rng.choice(32768 * 64, size=rows, replace=False)
    keys = np.array(
        [f"{i % 32768:05d}|run{seed}|{i // 32768}" for i in ids.tolist()],
        dtype=object,
    )
    sparse = rng.random(rows) < SPARSE_ROW_SHARE
    all_q = np.arange(len(QUALIFIERS))
    sparse_q = np.array([QUALIFIERS.index(q) for q in SPARSE_QUALIFIERS])
    row_of = np.repeat(np.arange(rows), np.where(sparse, sparse_q.size, all_q.size))
    q_of = np.concatenate([sparse_q if s else all_q for s in sparse.tolist()])
    row_idx = np.repeat(row_of, versions)
    q_idx = np.repeat(q_of, versions)
    n = int(row_idx.size)
    ts = rng.permutation(n).astype(np.int64) + 1_700_000_000_000
    counter = rng.integers(0, 10**9, size=n)
    order = rng.permutation(n)
    row_idx, q_idx, ts, counter = row_idx[order], q_idx[order], ts[order], counter[order]
    values = [f"counter:{c}".encode() for c in counter.tolist()]
    table = pa.table(
        {
            "row_key": pa.array(keys[row_idx], pa.string()),
            "cf": pa.array(np.full(n, FAMILY, dtype=object), pa.string()),
            "qualifier": pa.DictionaryArray.from_arrays(
                pa.array(q_idx.astype(np.int32)), pa.array(QUALIFIERS)
            ).cast(pa.string()),
            "value": pa.array(values, pa.binary()),
            "ts": pa.array(ts, pa.int64()),
        }
    )
    pq.write_table(table, path, row_group_size=256 * 1024)
    return n


# ---- analytics tables -----------------------------------------------------
#
# The distributions below are the ones measured on the sf0.1 test tables
# (``python3 perfbench/calibrate.py <sf0.1 dir>`` prints both side by side):
# documents draw 10..99 words uniformly from a 30-word vocabulary, 5% of
# them are a copy of another document with the token ``dup`` appended
# (exact duplicates arise when two copies share a source), ~41% are ``en``
# and the rest split evenly, and ``source`` cycles ``src0..src19``;
# embeddings are isotropic Gaussian 64-d unit vectors with a uniform,
# independent label 0..9; events spread 30 days over 1.5% as many users as
# events, with uniform event types; the TPC-H-shaped tables keep the sf1
# row ratios, key ranges and value ranges.

_WORDS = (
    "a the data spark table row column key value hash sort merge join scan "
    "filter group agg window stream batch query order line part customer "
    "vector fast slow big small"
).split()
DOC_WORDS = (10, 99)
NEAR_DUP_SHARE = 0.05
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["large", "hot", "blue", "red", "green", "small", "shiny", "dark"]
_P_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "screw", "valve", "spring"]


def _ts_us(days_from: str, us: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us").astype(np.int64)
    return pa.array(base + us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lo, hi = DOC_WORDS
    texts = [
        " ".join(rng.choice(_WORDS, size=int(k)).tolist())
        for k in rng.integers(lo, hi + 1, n)
    ]
    for i in rng.choice(n, size=max(1, int(n * NEAR_DUP_SHARE)), replace=False).tolist():
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    vec = rng.normal(0, 1, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, labels, n).astype(np.int32), pa.int32()),
        }
    )


def write_analytics_tables(
    directory: str, seed: int, scale: float, table_scale: dict[str, float] | None = None
) -> dict[str, int]:
    """Write the ten query tables at ``scale`` (1.0 ~ 6M lineitems, the
    TPC-H sf1 row ratios), except ``documents`` and ``embeddings`` at their
    ``table_scale`` entry if given; returns rows per table."""
    table_scale = table_scale or {}
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_line = max(800, int(6_000_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    n_users = max(50, int(15_000 * scale))
    n_docs = max(200, int(50_000 * table_scale.get("documents", scale)))
    n_emb = max(200, int(20_000 * table_scale.get("embeddings", scale)))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust).tolist()),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(_P_ADJ, n_part).tolist(),
                        rng.choice(_P_NOUN, n_part).tolist(),
                    )
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, n_part).tolist()]
            ),
            "p_type": pa.array(rng.choice(_P_TYPES, n_part).tolist()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
            ),
        }
    )
    day_us = 86_400 * 1_000_000
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord).tolist()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2400, n_ord) * day_us),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord).tolist()),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * _money(rng, 900, 2100, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_line).tolist()),
            "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2500, n_line) * day_us),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * day_us, n_events))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts_us("2024-01-01", ev_us),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events).tolist()),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()]
            ),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_emb)

    os.makedirs(directory, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
