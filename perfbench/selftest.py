"""Self-test of the benchmark itself, at the small input size.

    python3 perfbench/selftest.py

1. Each workload, untraced and traced, exits 0 with ``correct`` true and
   emits exactly the metric names and units ``BENCHMARK.json`` declares.
2. A deliberately damaged export output (a part file removed after the
   pass) is caught by the output check and counted as failed.
3. In a directory holding only ``BENCHMARK.json`` and the benchmark's own
   files, the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return proc.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    problems: list[str] = []
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        declared = {m["name"]: m["unit"] for m in bench[kind]}
        for w in bench["workloads"]:
            rc, res = run(["--workload", w["name"], "--seed", "1", "--seconds", "1",
                           "--trace", str(trace), "--size", "small"])
            tag = f"{w['name']} trace={trace}"
            if rc != 0 or res is None:
                problems.append(f"{tag}: exit {rc}, result {res}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != declared:
                problems.append(f"{tag}: metrics differ from {kind}: "
                                f"missing {sorted(set(declared) - set(got))}, "
                                f"extra {sorted(set(got) - set(declared))}, "
                                f"units {[k for k in got if declared.get(k) not in (None, got[k])]}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            print(f"ok   {tag}: {len(got)} metrics", flush=True)

    rc, res = run(["--workload", "export", "--seed", "2", "--seconds", "1",
                   "--trace", "0", "--size", "small", "--corrupt", "parquet"])
    # the Parquet export and its read-back fail; nothing else does
    if rc != 0 or res is None or res["correct"] or res["failed"] != 2:
        problems.append(f"damaged parquet export not caught: exit {rc}, result {res}")
    else:
        print(f"ok   damaged export caught: failed={res['failed']}", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = run(["--workload", bench["workloads"][0]["name"], "--seed", "1",
                   "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or res is not None:
        problems.append(f"bare directory: exit {rc}, result {res}")
    else:
        print(f"ok   bare directory refused: exit {rc}", flush=True)

    for p in problems:
        print(f"FAIL {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
