"""kvflow benchmark: one closed-loop client on ``local[$(nproc)]``.

Run from the root of a checkout::

    python3 perfbench/run.py --workload export --seed 1 --seconds 1 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen):

* ``export`` — bulk-load a seeded KV cell table (``table.create_table`` +
  ``table.write_cells``), run the four README export verbs through
  ``cli.main`` (Txt+gzip, Seq+snappy, Avro+gzip, Parquet+snappy with the
  ``C1,C3..C8`` schema and row-key column ``C1``), then read the Avro and
  Parquet outputs back in full.
* ``queries`` — ten registry queries over seeded analytics tables, in a
  seed-permuted order; each result is collected to the driver.

A run starts one driver process and session, times the session set-up,
makes passes of its workload until ``--seconds`` have elapsed (every pass
is whole; a pass is longer than the declared ``run_seconds``, so one pass
per run), checks every output outside the timed region, and prints one
JSON result as its last stdout line.  ``--trace 1`` runs the same pass
with spans around each call into the program plus, for ``export``, a
layer-by-layer decomposition, and reports per-layer metrics instead.

Everything the run writes goes under ``.perfbench_work/`` in the checkout:
Spark scratch (``spark.local.dir``), streaming checkpoints, temp files,
exports, and the run record ``results/<workload>-s<seed>-t<trace>.json``
(host identity, per-operation times, checks and spans).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer  # noqa: E402

#: Workload sizes: (KV rows, versions per cell) and the analytics tables'
#: (scale, per-table scales).  Documents get a larger share than the sf1
#: ratios give, so that dedup_ngram_jaccard keeps about the share of the
#: pass it has at sf0.1; at one scale for all tables the per-query fixed
#: costs dwarf it (see README.md).
SIZES = {
    "full": {"export": (20_000, 3), "queries": (0.01, {"documents": 0.05})},
    "small": {"export": (2_000, 2), "queries": (0.001, None)},
}

#: The mix, pinned here (never taken from REGISTRY order) and permuted only
#: by the seed.  Values are the per-layer span names.  Every operator module
#: the export path never calls has a query here; one pass of these ten is
#: what fits the run budget (48 runs in 57 minutes) on a 4-core host.
QUERY_MIX = {
    "tpch_q1": "queries.tpch_q1",
    "tpch_q5": "queries.tpch_q5",
    "sessionize_events": "queries.sessionize_events",
    "dedup_ngram_jaccard": "operators.dedup.dedup_ngram_jaccard",
    "semdedup": "operators.similarity.semdedup",
    "text_stats": "operators.text.text_stats",
    "image_phash": "operators.multimodal.image_phash",
    "curation_pipeline": "operators.curation.curation_pipeline",
    "kmv_distinct_users": "operators.sketch.kmv_distinct_users",
    "stream_lww_custom_state": "streaming.pivot_stream.stream_lww_custom_state",
}

EXPORT_VERBS = {
    "txt": "ExportHBaseTableToDelimiteredTxt",
    "seq": "ExportHBaseTableToDelimiteredSeq",
    "avro": "ExportHBaseTableToAvro",
    "parquet": "ExportHBaseTableToParquet",
}
SINK_SPANS = {
    "txt": "sinks.writers.write_delimited_text",
    "seq": "sinks.writers.write_sequencefile",
    "avro": "sinks.writers.write_avro",
    "parquet": "sinks.writers.write_parquet",
}
#: Spans that carry the Spark stage counters in the per-layer output.
COUNTED_SPANS = (
    ["table.write_cells", "table.read_table"]
    + ["operators.pivot.pivot_cells", "operators.pivot.pivot_typed"]
    + list(SINK_SPANS.values())
    + ["sources.readers.read_avro", "sources.readers.read_parquet"]
    + [f"cli.{v}" for v in EXPORT_VERBS.values()]
    + list(QUERY_MIX.values())
)
AVROLITE_BATCH = 20_000


# ---- host ---------------------------------------------------------------


def resolve_cores() -> int:
    """``nproc`` (without an OMP_NUM_THREADS cap); refuse anything that is
    not a positive integer rather than guess a core count."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    out = subprocess.run(
        ["nproc"], capture_output=True, text=True, env=env, check=True
    ).stdout.strip()
    if not out.isdigit() or int(out) < 1:
        raise SystemExit(f"nproc printed {out!r}; refusing to guess a core count")
    return int(out)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def scratch_backing(path: str) -> str:
    """``ram`` or ``disk:<fstype>`` for the filesystem holding ``path``."""
    best, fstype = "", "unknown"
    real = os.path.realpath(path)
    with open("/proc/mounts", encoding="utf-8") as fh:
        for line in fh:
            parts = line.split()
            mnt = parts[1]
            if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    return "ram" if fstype in ("tmpfs", "ramfs") else f"disk:{fstype}"


def source_identity() -> dict:
    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        pass  # checkouts without .git are identified by the digest below
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "hbase_tohdfs_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def prepare_environment(cores: int) -> None:
    """Point every scratch path of Spark, the JVM and the Python workers
    into the work directory, and make the package importable by workers
    (the Seq/Avro sinks and the Avro reader run tasks that import it)."""
    for sub in ("spark-local", "stream-ckpt", "tmp", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pythonpath if pythonpath else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_STREAM_CKPT_DIR"] = os.path.join(WORK, "stream-ckpt")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: temp files here, and no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


# ---- session ------------------------------------------------------------


def _identity_batches(batches):
    yield from batches


def warm_session(cores: int, tracer: Tracer):
    """``session.get_spark`` plus one SQL job and one ``mapInPandas`` job."""
    from hbase_tohdfs_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores
        )
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).mapInPandas(_identity_batches, "id long").collect()
    return spark


def peak_rss_mb(spark) -> float:
    """Driver JVM ``VmHWM`` plus the Python driver's ``ru_maxrss``."""
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _descendants() -> list[int]:
    """Every live process below this one (JVM, Python worker daemons)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, including children they have already reaped, so a
    difference of two readings covers workers that exited in between."""
    ticks = 0
    for pid in [os.getpid(), *_descendants()]:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended between the listing and the read
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every process we started
    (the JVM, its Python worker daemons) to end."""
    procs = _descendants()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


# ---- operations ---------------------------------------------------------


class Run:
    """Per-run state: the session, its tracer, and every operation done."""

    def __init__(self, args, cores: int, work: str) -> None:
        self.args = args
        self.cores = cores
        self.work = work
        self.tracer = Tracer(bool(args.trace), cores)
        self.spark = None
        self.ops: list[dict] = []
        self.notes: dict = {}

    def op(self, name: str, fn, span: str | None = None):
        """Time one closed-loop operation; an exception fails it (recorded,
        never retried) and returns None."""
        rec = {"op": name, "ok": True}
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span or name):
                result = fn()
        except Exception as exc:  # noqa: BLE001 — the run must report it
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:500])
            result = None
        rec["seconds"] = time.perf_counter() - t0
        self.ops.append(rec)
        return result

    def fail(self, name: str, why: str) -> None:
        for rec in reversed(self.ops):
            if rec["op"] == name:
                rec["ok"] = False
                rec.setdefault("error", why)
                return


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _du(path: str) -> int:
    total = 0
    for dirpath, _, filenames in os.walk(path):
        for f in filenames:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def export_pass(run: Run, d: str, cells_path: str, csv: str, avsc: str) -> dict[str, str]:
    """Ingest + the four export verbs + full read-back; returns output dirs."""
    from hbase_tohdfs_spark import cli, table
    from hbase_tohdfs_spark.sources import readers

    spark = run.spark
    kv = os.path.join(d, "kv")
    out = {fmt: os.path.join(d, fmt) for fmt in EXPORT_VERBS}

    def ingest():
        table.create_table(spark, kv, gen.FAMILY, 4)
        table.write_cells(spark.read.parquet(cells_path), kv)

    run.op("ingest", ingest, span="table.write_cells")
    argv = {
        "txt": [kv, gen.FAMILY, out["txt"], "true", csv, "|", gen.ROW_KEY_COLUMN],
        "seq": [kv, gen.FAMILY, out["seq"], "snappy", csv, "|"],
        "avro": [kv, gen.FAMILY, out["avro"], "gzip", avsc],
        "parquet": [kv, gen.FAMILY, out["parquet"], "snappy", avsc, gen.ROW_KEY_COLUMN],
    }
    for fmt, verb in EXPORT_VERBS.items():
        run.op(f"export_{fmt}", lambda v=verb, a=argv[fmt]: cli.main([v, *a], spark=spark),
               span=f"cli.{verb}")
    with open(avsc, encoding="utf-8") as fh:
        schema_text = fh.read()
    run.op("read_avro", lambda: _noop(readers.read_avro(spark, out["avro"], schema_text)),
           span="sources.readers.read_avro")
    run.op("read_parquet", lambda: _noop(readers.read_parquet(spark, out["parquet"])),
           span="sources.readers.read_parquet")
    return {"kv": kv, **out}


def check_exports(run: Run, outputs: dict, expected: dict, cells_path: str, avsc: str,
                  prefix: str = "") -> None:
    """Fail every export (and its read-back) whose output differs, and the
    ingest if the table's cells differ from the generated ones."""
    import oracle

    with open(avsc, encoding="utf-8") as fh:
        avro_schema = fh.read()
    if "kv" in outputs and oracle.table_digest(outputs["kv"]) != oracle.table_digest(cells_path):
        run.fail(f"{prefix}ingest", "table cells differ from the generated cells")
    for fmt, want in expected.items():
        try:
            got = oracle.actual_export(run.spark, fmt, outputs[fmt], avro_schema)
        except Exception as exc:  # noqa: BLE001 — an unreadable output is a wrong one
            got = f"unreadable: {type(exc).__name__}: {exc}"[:300]
        if got != want:
            why = f"{fmt}: got {got}, want {want}"
            run.fail(f"{prefix}export_{fmt}", why)
            if fmt in ("avro", "parquet"):
                run.fail(f"{prefix}read_{fmt}", why)


def export_decomposition(run: Run, d: str, kv: str, csv: str, avsc: str) -> dict:
    """Traced only: each layer of the export path timed on its own.  The
    sinks write a persisted pivoted frame, so their spans are self time."""
    from hbase_tohdfs_spark import table
    from hbase_tohdfs_spark.formats import avrolite
    from hbase_tohdfs_spark.model import parse_avro_schema_file
    from hbase_tohdfs_spark.operators import pivot
    from hbase_tohdfs_spark.sinks import writers

    spark = run.spark
    cols = gen.SCHEMA_COLUMNS
    schema = parse_avro_schema_file(avsc)
    out = {fmt: os.path.join(d, fmt) for fmt in EXPORT_VERBS}
    layer: dict = {}

    run.op("layer:read_table", lambda: _noop(table.read_table(spark, kv)),
           span="table.read_table")

    def pivot_cells():
        wide = pivot.pivot_cells(table.read_table(spark, kv), cols,
                                 row_key_col=gen.ROW_KEY_COLUMN,
                                 column_family=gen.FAMILY).persist()
        wide.count()
        return wide

    wide = run.op("layer:pivot_cells", pivot_cells, span="operators.pivot.pivot_cells")
    if wide is not None:
        from pyspark.sql import functions as F

        run.op("layer:export_txt", lambda: writers.write_delimited_text(
            wide, out["txt"], cols, "|", gzip=True), span=SINK_SPANS["txt"])
        # Seq has no row-key column in the README invocation, so it gets
        # its own pivot; its non-null fields are the cells that survived.
        wide_seq = pivot.pivot_cells(table.read_table(spark, kv), cols,
                                     column_family=gen.FAMILY).persist()
        layer["useful_cells"] = sum(wide_seq.select([F.count(c) for c in cols]).first())
        run.op("layer:export_seq", lambda: writers.write_sequencefile(
            wide_seq, out["seq"], cols, "|", codec="snappy"), span=SINK_SPANS["seq"])
        wide.unpersist()
        wide_seq.unpersist()

    def pivot_typed(row_key_col):
        typed = pivot.pivot_typed(table.read_table(spark, kv), schema,
                                  row_key_col=row_key_col,
                                  column_family=gen.FAMILY).select(*cols).persist()
        typed.count()
        return typed

    typed = run.op("layer:pivot_typed", lambda: pivot_typed(None),
                   span="operators.pivot.pivot_typed")
    if typed is not None:
        run.op("layer:export_avro", lambda: writers.write_avro(
            typed, out["avro"], schema, codec="gzip"), span=SINK_SPANS["avro"])
        typed.unpersist()
        typed_key = pivot_typed(gen.ROW_KEY_COLUMN)
        run.op("layer:export_parquet", lambda: writers.write_parquet(
            typed_key, out["parquet"], codec="snappy"), span=SINK_SPANS["parquet"])
        typed_key.unpersist()
    layer["sink_bytes"] = {fmt: _du(p) for fmt, p in out.items() if os.path.isdir(p)}

    # avrolite codec on a fixed driver-side batch (seeded, not timed by Spark)
    rng = random.Random(run.args.seed)
    records = [{c: f"counter:{rng.randrange(10**9)}" for c in cols}
               for _ in range(AVROLITE_BATCH)]
    schema_json = json.loads(gen.avro_schema_json())
    path = os.path.join(d, "avrolite.avro")
    t0 = time.perf_counter()
    avrolite.write_container(path, schema_json, records, codec="deflate")
    layer["avrolite_write_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    back = list(avrolite.read_container(path))
    layer["avrolite_read_s"] = time.perf_counter() - t0
    if back != records:
        run.notes.setdefault("check_errors", []).append("avrolite round trip differs")
        layer["avrolite_ok"] = False
    return {"kv": kv, **out, "layer": layer}


def export_workload(run: Run, size: str) -> dict:
    import oracle

    rows, versions = SIZES[size]["export"]
    csv, avsc = gen.write_schema_files(run.work)
    cells_path = os.path.join(run.work, "cells.parquet")
    n_cells = gen.write_kv_cells(cells_path, run.args.seed, rows, versions)
    expected = oracle.expected_exports(cells_path)
    passes = []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < run.args.seconds:
        d = os.path.join(run.work, f"pass{len(passes)}")
        first = len(run.ops)
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with run.tracer.span("pass"):
            outputs = export_pass(run, d, cells_path, csv, avsc)
        passes.append(pass_record(t0, cpu0, run.ops[first:]))
        t0 = time.perf_counter()
        check_exports(run, outputs, expected, cells_path, avsc)
        passes[-1]["check_s"] = time.perf_counter() - t0
        if run.args.corrupt:
            corrupt_output(outputs[run.args.corrupt])
            check_exports(run, outputs, expected, cells_path, avsc)
    info = {"cells": n_cells, "rows": rows, "versions": versions, "passes": passes,
            "expected_rows": {f: e.rows for f, e in expected.items()},
            "table_bytes": _du(outputs["kv"]),
            "export_bytes": {f: _du(outputs[f]) for f in EXPORT_VERBS}}
    if run.args.trace:
        dec = export_decomposition(run, os.path.join(run.work, "layers"),
                                   outputs["kv"], csv, avsc)
        check_exports(run, dec, expected, cells_path, avsc, prefix="layer:")
        info["layer"] = dec["layer"]
    return info


def pass_record(t0: float, cpu0: float, ops: list) -> dict:
    wall = time.perf_counter() - t0
    return {"seconds": wall, "cpu_s": tree_cpu_s() - cpu0, "ops": ops}


def corrupt_output(path: str) -> None:
    """Self-test hook: damage one export the way a sink that lost a task's
    output would — drop its last part file."""
    parts = sorted(
        f for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith(".crc")
        and os.path.getsize(os.path.join(path, f)) > 0
    )
    os.remove(os.path.join(path, parts[-1]))
    crc = os.path.join(path, f".{parts[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def queries_workload(run: Run, size: str) -> dict:
    import oracle

    if run.args.tables:
        data, rows = os.path.abspath(run.args.tables), None
    else:
        data = os.path.join(run.work, "tables")
        rows = gen.write_analytics_tables(data, run.args.seed, *SIZES[size]["queries"])
    import __spark_entry__ as entry

    fns, oracles = entry.queries(), entry.oracle_sql()
    check = oracle.load_check_oracle(ROOT)
    con = check.duck_connection(data)
    order = list(QUERY_MIX)
    random.Random(run.args.seed).shuffle(order)
    passes = []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < run.args.seconds:
        first, collected = len(run.ops), {}
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with run.tracer.span("pass"):
            for name in order:
                run.spark.catalog.clearCache()  # operators may persist()
                collected[name] = run.op(
                    name, lambda n=name: fns[n](run.spark, data).toPandas(),
                    span=QUERY_MIX[name])
        passes.append(pass_record(t0, cpu0, run.ops[first:]))
        t0 = time.perf_counter()
        for name, pdf in collected.items():
            if pdf is None:
                continue
            problems = check.compare(name, oracle.Collected(pdf), con, oracles[name])
            if problems:
                run.fail(name, "; ".join(problems)[:500])
        passes[-1]["check_s"] = time.perf_counter() - t0
    con.close()
    return {"order": order, "table_rows": rows, "passes": passes}


# ---- metrics ------------------------------------------------------------


def end_to_end(run: Run, info: dict) -> dict:
    attempted = len(run.ops)
    ok = sum(1 for r in run.ops if r["ok"])
    return {
        "setup_s": (run.notes["setup_s"], "s"),
        "pass_s": (statistics.median(p["seconds"] for p in info["passes"]), "s"),
        "success_ratio": (ok / attempted, "ratio"),
    }


def per_layer(run: Run, info: dict) -> dict:
    tr = run.tracer
    out: dict[str, tuple[float, str]] = {}
    out["session.get_spark_s"] = (tr.totals("session.get_spark").seconds, "s")
    for name in COUNTED_SPANS:
        sp = tr.totals(name)
        out[f"{name}_s"] = (sp.seconds if sp else 0.0, "s")
        out[f"{name}.busy_share"] = (tr.busy_share(sp) if sp else 0.0, "ratio")
        out[f"{name}.shuffle_bytes"] = (
            sp.counters["shuffle_write_bytes"] if sp else 0.0, "bytes")
    layer = info.get("layer", {})
    cells = info.get("cells")
    out["operators.pivot.pivot_cells.useful_cell_ratio"] = (
        layer["useful_cells"] / cells if "useful_cells" in layer and cells else 0.0, "ratio")
    for fmt, span in SINK_SPANS.items():
        out[f"{span}.bytes"] = (float(layer.get("sink_bytes", {}).get(fmt, 0)), "bytes")
    out["table.write_cells.bytes"] = (float(info.get("table_bytes", 0)), "bytes")
    for kind in ("write", "read"):
        s = layer.get(f"avrolite_{kind}_s")
        out[f"formats.avrolite.{kind}_container_records_per_s"] = (
            AVROLITE_BATCH / s if s else 0.0, "1/s")
    out["driver.peak_rss_mb"] = (run.notes["peak_rss_mb"], "MB")
    pass_spans = [sp for sp in tr.spans if sp.name == "pass"]
    out["trace.pass_s"] = (statistics.median(sp.seconds for sp in pass_spans), "s")
    out["trace.pass_cpu_s"] = (statistics.median(p["cpu_s"] for p in info["passes"]), "s")
    # jobs land on the innermost span, so the pass's busy time is its own
    # plus its children's
    run_ms = sum(sp.counters["executor_run_ms"] for sp in tr.spans
                 if "pass" in (sp.name, sp.parent))
    wall_ms = 1000.0 * sum(sp.seconds for sp in pass_spans)
    out["trace.pass.busy_share"] = (run_ms / (wall_ms * run.cores), "ratio")
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["export", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full",
                   help="input size; 'small' is for the self-test")
    p.add_argument("--corrupt", choices=sorted(EXPORT_VERBS),
                   help="self-test: damage this export after the pass")
    p.add_argument("--tables", help="queries: run on the tables in this directory "
                   "instead of generated ones (see calibrate.py)")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hbase_tohdfs_spark", "__init__.py")):
        print(f"no hbase_tohdfs_spark package under {ROOT}", file=sys.stderr)
        return 2

    cores = resolve_cores()
    prepare_environment(cores)
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    run = Run(args, cores, work)
    run.spark = warm_session(cores, run.tracer)
    run.notes["setup_s"] = process_age_s()
    run.tracer.bind(run.spark)
    import pyspark

    host = {
        "cores": cores,
        "master": f"local[{cores}]",
        **source_identity(),
        "pyspark": pyspark.__version__,
        "java": run.spark.sparkContext._jvm.System.getProperty("java.version"),
        "scratch": WORK,
        "scratch_backing": scratch_backing(WORK),
    }
    try:
        workload = export_workload if args.workload == "export" else queries_workload
        info = workload(run, args.size)
        run.notes["peak_rss_mb"] = peak_rss_mb(run.spark)
    finally:
        shutdown(run.spark)

    metrics = per_layer(run, info) if args.trace else end_to_end(run, info)
    failed = sum(1 for r in run.ops if not r["ok"])
    correct = failed == 0 and not run.notes.get("check_errors")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "size": args.size, "host": host, "notes": run.notes, "info": info,
              "ops": run.ops}
    results = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    run.tracer.dump(results, record)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": correct,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
