"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "query_stats": {name: {min, median, spread}},
"sf": ..., "cpus": ..., "complete": ...}, mirrored to BENCH_LAST.json and
appended to BENCH_HISTORY.jsonl.  Every figure is from this run alone.
Each query is forced end-to-end with the `noop` sink (full execution, no
write cost), after a warm-up pass of the session.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from hbase_tohdfs_spark.queries import REGISTRY  # noqa: E402
from hbase_tohdfs_spark.session import get_spark, graft_cpus  # noqa: E402

BENCH_QUERIES = [
    "pivot_last_event_by_user",
    "pivot_kv_roundtrip",
    "pivot_projection_rowkey",
    "generator_cells",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "events_hourly_rollup",
]


#: Restart the SparkSession after this many queries.  A long-lived local
#: session "ages": accumulated broadcast blocks, shuffle state, and GC
#: pressure from 80+ prior jobs inflate late-query timings 2-5x over
#: their fresh-session steady state (measured: dedup_embedding 11.2s as
#: query #40 of a 50-query session vs 1.9s fresh, identical plan).
#: Periodic restarts keep every measurement a plan measurement; the
#: ~6s restart cost is wall-clock only, never part of a recorded timing.
SESSION_RESTART_EVERY = 12

#: intra-process repeats per query; ``queries`` reports their minimum.
N_RUNS_PER_QUERY = 3


def summarize(repeats: dict[str, list[float]]) -> dict:
    """Per-query summary of this run's repeat timings.

    ``queries`` holds each query's minimum, ``value`` their sum, and
    ``query_stats`` the min, median and spread (max - min) of the
    repeats, all in seconds rounded to the millisecond.
    """
    queries = {name: round(min(ts), 3) for name, ts in repeats.items()}
    stats = {
        name: {
            "min": queries[name],
            "median": round(statistics.median(ts), 3),
            "spread": round(max(ts) - min(ts), 3),
        }
        for name, ts in repeats.items()
    }
    return {
        "value": round(sum(queries.values()), 3),
        "queries": queries,
        "query_stats": stats,
    }


def measure_shuffle_burn(spark, n_runs: int = 2) -> float:
    """Min-of-``n_runs`` wall time of a 50M-row / 1M-group shuffle
    (``spark.range(50e6) % 1e6 groupBy count``): a raw reading of the
    host's shuffle speed, reported next to the query timings."""
    best = None
    for _ in range(n_runs):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("id % 1000000 as k").groupBy(
            "k"
        ).count().write.mode("overwrite").format("noop").save()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    return round(best, 3)


def _ram_scratch_if_roomy() -> None:
    """Opt the bench sessions into RAM-backed Spark scratch when the
    host has a comfortably-sized /dev/shm (>= 16 GiB free — sf0.1
    shuffles are MBs; the margin is for careless reuse).  The session
    factory deliberately defaults to disk (see session.py); bench is
    the one caller whose scratch is guaranteed throwaway and whose
    timings disk /tmp visibly pollutes (tpch_q9 2.01s -> 1.62s)."""
    if os.environ.get("SPARK_GRAFT_LOCAL_DIR"):
        return
    try:
        stat = os.statvfs("/dev/shm")
        if stat.f_bavail * stat.f_frsize >= 16 * 1024**3:
            os.environ["SPARK_GRAFT_LOCAL_DIR"] = "/dev/shm/spark-local"
    except OSError:
        pass


def _fresh_session():
    _ram_scratch_if_roomy()
    spark = get_spark(app_name="bench")
    # Warm up JVM codegen so the first query measures the plan.
    spark.range(1000).selectExpr("sum(id)").collect()
    # Also spin up the Arrow/pandas Python workers: a query that lands
    # right after a restart would otherwise pay worker fork + pandas
    # import (~3s) in every repeat if worker reuse misses.
    spark.range(32).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).format("noop").save()
    return spark


def main() -> None:
    # Hard precondition: refuse to bench against drifted testdata.  Drift
    # cost round 3 its entire bench line (rc=1 mid-run); failing here is
    # cheaper and names the drifted tables.  SPARK_GRAFT_SKIP_DRIFT_CHECK=1
    # overrides.
    from hbase_tohdfs_spark.drift import check_or_raise

    check_or_raise()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    cpus = graft_cpus()
    spark = _fresh_session()

    names = [n for n in BENCH_QUERIES if n in REGISTRY]
    extra = [n for n in REGISTRY if n not in BENCH_QUERIES]
    # N_RUNS_PER_QUERY repeats per query: the first absorbs one-off costs
    # (Python-worker spin-up, codegen, page cache), so the minimum is the
    # steady-state engine time and the spread shows how noisy it was.
    repeats: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for qi, name in enumerate(names + extra):
        if qi and qi % SESSION_RESTART_EVERY == 0:
            spark.stop()
            spark = _fresh_session()
        fn = REGISTRY[name].fn
        # Fail-soft per query: one broken query (e.g. a testdata schema
        # drift) costs ONE entry, not the whole bench line.
        try:
            # Label the query's jobs so an event-log trace of a bench run
            # maps jobs back to queries.
            spark.sparkContext.setJobDescription(f"bench:{name}")
            times = []
            for _ in range(N_RUNS_PER_QUERY):
                spark.catalog.clearCache()  # operators may persist()
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                times.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            # the session may be wedged (e.g. a failed streaming query);
            # recycle it so the next query starts clean
            try:
                spark.stop()
            except Exception:  # noqa: BLE001
                pass
            spark = _fresh_session()
            continue
        repeats[name] = times
    summary = summarize(repeats)
    result = {
        "metric": "headline_queries_total_runtime",
        "value": summary["value"],
        "unit": "sec",
        "queries": summary["queries"],
        "query_stats": summary["query_stats"],
        "sf": sf_val,
        "cpus": cpus,
        # Totals are only comparable when every query contributed a
        # timing: errored queries are OMITTED from the sum, so a smaller
        # denominator would masquerade as a speedup.
        "complete": not errors,
        "n_queries_timed": len(repeats),
    }
    if sf_val == 0.1:
        try:
            result["shuffle_burn_s"] = measure_shuffle_burn(spark)
        except Exception as exc:  # noqa: BLE001 — never fail the bench for it
            print(f"bench: shuffle burn failed: {exc}", file=sys.stderr)
    if errors:
        result["errors"] = errors
    _append_history(result)
    line = json.dumps(result)
    # BENCH_LAST.json is byte-identical to the printed line, for readers
    # that capture only a bounded stdout tail.
    try:
        with open(os.path.join(ROOT, "BENCH_LAST.json"), "w") as fh:
            fh.write(line + "\n")
    except Exception:  # noqa: BLE001 — never fail the bench for the copy
        pass
    print(line)


def _git_sha() -> str | None:
    try:
        import subprocess

        return (
            subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                capture_output=True,
                text=True,
                cwd=ROOT,
                timeout=10,
            ).stdout.strip()
            or None
        )
    except Exception:
        return None


def _append_history(result: dict) -> None:
    """Append this run to BENCH_HISTORY.jsonl, the raw append-only
    record (nothing reads it back); best-effort — never fails the bench."""
    try:
        line = dict(
            result,
            git_sha=_git_sha(),
            n_runs=N_RUNS_PER_QUERY,
            ts=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        )
        with open(os.path.join(ROOT, "BENCH_HISTORY.jsonl"), "a") as fh:
            fh.write(json.dumps(line) + "\n")
    except Exception:  # noqa: BLE001
        pass


if __name__ == "__main__":
    main()
