"""Measure recall@k of the approximate ANN paths against the exact one.

The ann_lsh / ann_ivf oracles verify the approximation *as specified*
(same buckets, same probes, same scores); nothing there says whether the
approximation is any good.  This tool grades it: recall@k = mean over
queries of |approx top-k ∩ exact top-k| / k, for the LSH path at probe
0/1 and the IVF path at 1/2 probes.  Results land in SCALE.md; the
pytest lower bound lives in tests/test_ann_recall.py.

Usage: python tools/ann_recall.py [sf_dir] [k]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def recall_at_k(exact_df, approx_df, k: int) -> float:
    """Mean per-query overlap fraction between two (query_id, vec_id)
    top-k frames — computed distributed, two tiny frames joined on
    (query_id, vec_id)."""
    from pyspark.sql import functions as F

    e = exact_df.select("query_id", "vec_id")
    a = approx_df.select("query_id", "vec_id")
    hits = (
        e.join(a, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    per_q = e.select("query_id").distinct().join(hits, "query_id", "left").select(
        (F.coalesce("n_hit", F.lit(0)) / F.lit(float(k))).alias("r")
    )
    row = per_q.agg(F.avg("r").alias("recall")).collect()[0]
    return float(row["recall"])


def measure(spark, sf_dir: str, k: int = 5) -> dict[str, float]:
    from hbase_tohdfs_spark.operators import similarity
    from hbase_tohdfs_spark.queries_pipeline import ANN_QUERY_IDS, _t

    emb = _t(spark, sf_dir, "embeddings").persist()
    exact = similarity.cosine_topk(emb, ANN_QUERY_IDS, k=k).persist()
    exact.count()
    planes = similarity.hyperplane_signs(similarity.NUM_PLANES, 64)
    out = {}
    for label, probe in (("lsh_probe0", 0), ("lsh_probe1", 1)):
        approx = similarity.lsh_topk(
            emb, ANN_QUERY_IDS, k=k, planes=planes, probe_hamming=probe
        )
        out[label] = recall_at_k(exact, approx, k)
    for label, probes in (("ivf_probes1", 1), ("ivf_probes2", 2)):
        approx = similarity.ivf_topk(emb, ANN_QUERY_IDS, k=k, probes=probes)
        out[label] = recall_at_k(exact, approx, k)
    out["sq8"] = recall_at_k(
        exact, similarity.sq8_topk(emb, ANN_QUERY_IDS, k=k), k
    )
    exact.unpersist()
    emb.unpersist()
    return out


def main() -> None:
    from hbase_tohdfs_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(app_name="ann_recall")
    res = measure(spark, sf_dir, k)
    for label, r in res.items():
        print(f"recall@{k} {label}: {r:.3f}")


if __name__ == "__main__":
    main()
