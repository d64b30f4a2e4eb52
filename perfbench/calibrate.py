"""Compare the generated analytics tables with reference tables.

    python3 perfbench/calibrate.py <reference dir> [--scale S]
    python3 perfbench/calibrate.py --shares <run record> <run record>

The first form writes the generated tables (seed 1) at the benchmark's full
size, or every table at ``--scale`` (0.1 gives the sf0.1 row counts), and
prints side by side, for the reference tables and the generated ones, the
figures the generator's parameters were set from: vocabulary and document-length distribution, duplicate rates, shingle
document frequency, events per user, embedding spread, and row ratios.
DuckDB reads the tables; pairwise figures are computed with NumPy.

The second form prints each query's share of the pass time from two traced
``queries`` run records (``.perfbench_work/results/*.json``), e.g. one run
with ``--tables <reference dir>`` and one on generated tables, so the mix
can be shown to be the same traffic.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from run import QUERY_MIX, SIZES, WORK  # noqa: E402

JACCARD = 0.5  # dedup_ngram_jaccard's threshold


def _bigram_figures(texts: list[str], max_df: int) -> dict:
    index: dict[tuple[str, str], int] = {}
    sets = []
    for t in texts:
        w = t.split()
        sets.append({index.setdefault(p, len(index)) for p in zip(w, w[1:])})
    m = np.zeros((len(sets), len(index)), np.float32)
    for i, s in enumerate(sets):
        m[i, list(s)] = 1.0
    df = m.sum(axis=0)
    inter = m @ m.T
    size = m.sum(axis=1)
    jac = inter / np.maximum(size[:, None] + size[None, :] - inter, 1.0)
    np.fill_diagonal(jac, 0.0)
    return {
        "distinct bigrams": len(index),
        "bigram df median / docs": float(np.median(df)) / len(texts),
        "bigrams with df <= NGRAM_MAX_DF": float((df <= max_df).mean()),
        f"docs in a pair with jaccard >= {JACCARD}": float((jac.max(axis=1) >= JACCARD).mean()),
        f"pairs with jaccard >= {JACCARD} per doc": float((np.triu(jac, 1) >= JACCARD).sum()) / len(texts),
    }


def _embedding_figures(vecs: np.ndarray, labels: np.ndarray) -> dict:
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    np.fill_diagonal(cos, -2.0)
    centroids = [unit[labels == k].mean(axis=0) for k in np.unique(labels)]
    return {
        "dim": int(vecs.shape[1]),
        "norm median": float(np.median(np.linalg.norm(vecs, axis=1))),
        "component std": float(vecs.std()),
        "labels": int(np.unique(labels).size),
        "label centroid norm x sqrt(rows/labels)": float(
            np.mean([np.linalg.norm(c) for c in centroids])
            * np.sqrt(len(vecs) / len(centroids))),
        "nearest-neighbour cosine median": float(np.median(cos.max(axis=1))),
        "pairs with cosine > 0.99": int((np.triu(cos, 1) > 0.99).sum()),
    }


def figures(directory: str) -> dict[str, float]:
    from hbase_tohdfs_spark.operators.dedup import NGRAM_MAX_DF

    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(directory, t + '.parquet')}')")

    def one(sql):
        return con.execute(sql).fetchone()

    out: dict[str, float] = {}
    n_docs, n_line = one("SELECT count(*) FROM documents")[0], one("SELECT count(*) FROM lineitem")[0]
    for t in ("customer", "orders", "events", "documents", "embeddings"):
        out[f"{t} rows / lineitem rows"] = one(f"SELECT count(*) FROM {t}")[0] / n_line
    out["orders per customer"] = one(
        "SELECT count(*) / count(DISTINCT o_custkey) FROM orders")[0]
    out["lineitem orderkeys / orders"] = one(
        "SELECT (SELECT count(DISTINCT l_orderkey) FROM lineitem) / count(*) FROM orders")[0]

    out["events per user"] = one("SELECT count(*) / count(DISTINCT user_id) FROM events")[0]
    out["event types"] = one("SELECT count(DISTINCT event_type) FROM events")[0]
    out["event type share max / min"] = one(
        "SELECT max(n) / min(n) FROM (SELECT count(*) n FROM events GROUP BY event_type)")[0]
    out["events: days spanned"] = one(
        "SELECT epoch(max(ts) - min(ts)) / 86400 FROM events")[0]
    out["event value median"] = one("SELECT median(value) FROM events")[0]

    tokens = "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
    out["vocabulary"] = one(f"SELECT count(DISTINCT w) FROM {tokens}")[0]
    out["token share max / min"] = one(
        f"SELECT max(n) / min(n) FROM (SELECT count(*) n FROM {tokens} "
        "WHERE w <> 'dup' GROUP BY w)")[0]
    lo, med, hi = one("SELECT min(n), median(n), max(n) FROM "
                      "(SELECT len(string_split(text, ' ')) n FROM documents)")
    out["words per doc min"], out["words per doc median"], out["words per doc max"] = lo, med, hi
    out["exact duplicate docs share"] = one(
        "SELECT 1 - count(DISTINCT text) / count(*) FROM documents")[0]
    out["docs ending in 'dup' share"] = one(
        "SELECT avg(CAST(text LIKE '% dup' AS DOUBLE)) FROM documents")[0]
    out["lang 'en' share"] = one("SELECT avg(CAST(lang = 'en' AS DOUBLE)) FROM documents")[0]
    out["sources"] = one("SELECT count(DISTINCT source) FROM documents")[0]
    texts = [r[0] for r in con.execute("SELECT text FROM documents ORDER BY doc_id").fetchall()]
    out.update(_bigram_figures(texts, NGRAM_MAX_DF))
    out["documents rows"] = n_docs

    rows = con.execute("SELECT embedding, label FROM embeddings ORDER BY vec_id").fetchall()
    out.update(_embedding_figures(np.array([r[0] for r in rows], np.float64),
                                  np.array([r[1] for r in rows])))
    con.close()
    return out


def query_shares(record_path: str) -> dict[str, float]:
    with open(record_path, encoding="utf-8") as fh:
        spans = json.load(fh)["spans"]
    seconds = {name: 0.0 for name in QUERY_MIX}
    by_span = {span: name for name, span in QUERY_MIX.items()}
    for sp in spans:
        if sp["name"] in by_span:
            seconds[by_span[sp["name"]]] += sp["end"] - sp["start"]
    total = sum(seconds.values())
    return {name: s / total for name, s in seconds.items()}


def _table(header: list[str], rows: dict[str, list[float]]) -> None:
    width = max(len(k) for k in rows) + 2
    print("".ljust(width) + "".join(h.rjust(14) for h in header))
    for key, vals in rows.items():
        print(key.ljust(width) + "".join(f"{v:14.4g}" for v in vals))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("reference", nargs="?", help="directory of reference tables")
    p.add_argument("--scale", type=float, help="one scale for every table")
    p.add_argument("--shares", nargs=2, metavar="RECORD",
                   help="two traced queries run records to compare")
    args = p.parse_args()
    if args.shares:
        a, b = (query_shares(r) for r in args.shares)
        _table([os.path.basename(r)[:13] for r in args.shares],
               {name: [a[name], b[name]] for name in QUERY_MIX})
        return 0
    if not args.reference:
        p.error("give a reference directory or --shares")
    generated = os.path.join(WORK, "calibrate-tables")
    size = (args.scale, None) if args.scale else SIZES["full"]["queries"]
    gen.write_analytics_tables(generated, 1, *size)
    ref, ours = figures(args.reference), figures(generated)
    _table(["reference", "generated"], {k: [ref[k], ours[k]] for k in ref})
    return 0


if __name__ == "__main__":
    sys.exit(main())
