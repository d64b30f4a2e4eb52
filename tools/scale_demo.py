"""Scale demonstration: the full export pipeline at 50M cells.

Generates 5M logical rows x 10 qualifiers = 50M cells (1000x the README
workload of 50k cells, ``README.md:13``), bulk-writes them as a
row_key-bucketed KV table, then runs the typed pivot export two ways:

  1. plain parquet dataset   -> pivot with one exchange
  2. bucketed table          -> pivot with zero exchanges (map-only twin)

and reports cells/sec for generation, ingest, and both exports.  Output
is appended to SCALE.md.

Usage: python tools/scale_demo.py [num_tasks records_per_task]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tasks = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    per_task = int(sys.argv[2]) if len(sys.argv) > 2 else 156_250  # 5M rows

    from pyspark.sql import functions as F

    from hbase_tohdfs_spark import generate, table
    from hbase_tohdfs_spark.model import parse_avro_schema_json
    from hbase_tohdfs_spark.operators import pivot as piv
    from hbase_tohdfs_spark.session import get_spark

    n_cells = tasks * per_task * 10
    spark = get_spark(app_name="scale_demo")
    spark.range(1000).selectExpr("sum(id)").collect()

    schema = parse_avro_schema_json(
        '{"type":"record","name":"T","fields":['
        + ",".join(f'{{"name":"C{i}","type":"string"}}' for i in (1, 3, 4, 5, 6, 7, 8))
        + "]}"
    )
    results: dict[str, float] = {"n_cells": n_cells}

    with tempfile.TemporaryDirectory() as tmp:
        cells = generate.populate_cells(spark, tasks, per_task, "scale")

        t0 = time.perf_counter()
        table.write_cells(cells, f"{tmp}/kv", num_regions=tasks, mode="overwrite")
        results["ingest_sec"] = round(time.perf_counter() - t0, 2)

        kv = table.read_table(spark, f"{tmp}/kv")

        t0 = time.perf_counter()
        wide = piv.pivot_typed(kv, schema, column_family="c", drop_empty=True)
        wide.write.mode("overwrite").format("noop").save()
        results["export_plain_sec"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        table.write_cells_bucketed(kv, "kv_scale_demo", num_buckets=tasks)
        results["bucketed_write_sec"] = round(time.perf_counter() - t0, 2)

        try:
            bucketed = table.read_bucketed_table(spark, "kv_scale_demo")
            wide_b = piv.pivot_typed(bucketed, schema, column_family="c", drop_empty=True)
            plan = wide_b._jdf.queryExecution().executedPlan().toString()
            results["bucketed_export_shuffle_free"] = "Exchange" not in plan
            t0 = time.perf_counter()
            wide_b.write.mode("overwrite").format("noop").save()
            results["export_bucketed_sec"] = round(time.perf_counter() - t0, 2)

            # LWW compaction at scale: merge a 10% delta into the 50M-cell
            # bucketed base — both sides bucket-aligned, so the upsert's
            # aggregation inherits the scan distribution (no exchange).
            delta = generate.populate_cells(
                spark, tasks, per_task // 10, "scale"
            ).withColumn("ts", F.col("ts") + F.lit(n_cells * 10))
            table.write_cells_bucketed(delta, "kv_scale_delta", num_buckets=tasks)
            merged = table.upsert_cells(
                table.read_bucketed_table(spark, "kv_scale_demo"),
                table.read_bucketed_table(spark, "kv_scale_delta"),
            )
            plan = merged._jdf.queryExecution().executedPlan().toString()
            results["upsert_shuffle_free"] = "Exchange" not in plan
            t0 = time.perf_counter()
            merged.write.mode("overwrite").format("noop").save()
            results["upsert_sec"] = round(time.perf_counter() - t0, 2)
        finally:
            spark.sql("DROP TABLE IF EXISTS kv_scale_demo")
            spark.sql("DROP TABLE IF EXISTS kv_scale_delta")

    for k in ("ingest", "export_plain", "export_bucketed"):
        results[f"{k}_cells_per_sec"] = int(n_cells / results[f"{k}_sec"])
    results["upsert_cells_per_sec"] = int(
        (n_cells + n_cells // 10) / results["upsert_sec"]
    )
    print(json.dumps(results))


if __name__ == "__main__":
    main()
