#!/usr/bin/env python3
"""Benchmark for the otterbrix_spark engine.

    python3 perfbench/run.py --workload headline|statements \
        --seed N --seconds S --trace 0|1

Run from the repository root. Generates the corpus from the seed, starts
Spark on ``local[nproc]`` in a fresh JVM and sets the workload up
(``setup_s``: a cold start, JVM launch included), runs checked warm-up
rounds, then runs whole rounds of the workload until its ops have been busy
for ``--seconds``. Every op's result is checked outside the timed region.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is a report with the host context (nproc, load average, steal share),
sample counts, read and write medians and the error rate.

The traced run alternates untraced rounds and rounds with the layer entry
points wrapped (see ``spans.py``); the per-layer metrics come from the
traced rounds, and it writes their spans and a per-layer self-time table
under ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p75_s": "s",
    "ops_per_s": "1/s",
    "jvm_live_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "registry.persist_s": "s",
    "registry.cached_bytes": "bytes",
    "workload.build_s": "s",
    "plan.analysis_s": "s",
    "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.tasks_failed": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "cursor.transfer_s": "s",
    "cursor.rows": "count",
    "dialect.rewrite_s": "s",
    "catalog.route_s": "s",
    "catalog.persist_s": "s",
    "catalog.refresh_views_s": "s",
    "catalog.jobs": "count",
    "engine.self_s": "s",
    "dml.write_s": "s",
    "dml.files_written": "count",
    "dml.bytes_written": "bytes",
    "dml.bytes_per_row_changed": "bytes",
    "py4j.calls": "count",
    "py4j.wait_s": "s",
    "trace.overhead_s": "s",
}

# span name -> per-layer metric that takes the span's self time
_SELF_TIME = {
    "workload.build": "workload.build_s",
    "dialect.rewrite": "dialect.rewrite_s",
    "catalog.route": "catalog.route_s",
    "catalog.persist": "catalog.persist_s",
    "catalog.refresh_views": "catalog.refresh_views_s",
    "engine.execute_sql": "engine.self_s",
    # a statement's lazy result executes when the cursor fetches it
    "cursor.fetch": "exec.run_s",
}

DRIVER_MEMORY = "3g"


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and the program write inside ``work``,
    and let Python workers import the program."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None


def _start_session(wl, work: Path, nproc: int):
    from otterbrix_spark.session import get_spark

    kw = wl.session_kwargs()
    spark = get_spark(
        app_name="otterbrix-perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=kw.get("shuffle_partitions", max(8, nproc)),
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # a heap fixed at its maximum: grown on demand, the heap's
            # path differed between runs, and so did GC time in the timed
            # ops (0.15-0.6 s per 20 s of statements, 4 cores)
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'}",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **kw.get("extra_conf", {}),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _install_wrappers(tracer) -> None:
    import py4j.clientserver
    import py4j.java_gateway

    import otterbrix_spark.engine as engine
    from otterbrix_spark.catalog import Catalog
    from otterbrix_spark.operators.dml import ManagedTable

    def parquet_files(path) -> dict[str, int]:
        out = {}
        for base, _, files in os.walk(path or ""):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(base, f)
                    out[p] = os.path.getsize(p)
        return out

    def files_before(args):
        return parquet_files(args[0].path)

    def files_added(sp, args, before, out):
        new = {p: b for p, b in parquet_files(args[0].path).items() if p not in before}
        sp.attrs = {"files": len(new), "bytes": sum(new.values())}

    def files_staged(sp, args, token, out):
        staged = parquet_files(args[0]._staged)
        sp.attrs = {"files": len(staged), "bytes": sum(staged.values())}

    tracer.wrap(engine, "rewrite", "dialect.rewrite")
    tracer.wrap(Catalog, "route", "catalog.route")
    tracer.wrap(Catalog, "persist_catalog_state", "catalog.persist")
    tracer.wrap(Catalog, "refresh_views", "catalog.refresh_views")
    tracer.wrap(ManagedTable, "insert", "dml.insert", before=files_before, after=files_added)
    tracer.wrap(ManagedTable, "update", "dml.update")
    tracer.wrap(ManagedTable, "delete", "dml.delete")
    tracer.wrap(ManagedTable, "stage", "dml.stage", after=files_staged)
    tracer.wrap(ManagedTable, "commit_staged", "dml.commit_staged")
    # every Python-to-JVM round trip, in pinned-thread mode or not
    tracer.count(py4j.clientserver.ClientServerConnection, "send_command", "py4j")
    tracer.count(py4j.java_gateway.GatewayConnection, "send_command", "py4j")


def _op_layers(tracer, spark, op: int, group: str, df) -> dict[str, float]:
    """Per-layer values of one traced op."""
    from perfbench import spans as sp

    op_spans = tracer.op_spans(op)
    selfs = sp.self_times(op_spans)
    jobs = sp.group_jobs(spark, group)
    by_span = sp.attribute_jobs(op_spans, jobs)
    out: dict[str, float] = defaultdict(float)
    for name, secs in selfs.items():
        if name in _SELF_TIME:
            out[_SELF_TIME[name]] += secs
        elif name.startswith("dml."):
            out["dml.write_s"] += secs
    for s in op_spans:
        if s.name.startswith("dml."):
            out["dml.files_written"] += s.attrs.get("files", 0)
            out["dml.bytes_written"] += s.attrs.get("bytes", 0)
    out["py4j.calls"], out["py4j.wait_s"] = tracer.counts.get((op, "py4j"), (0, 0.0))
    out["catalog.jobs"] = sum(n for k, n in by_span.items() if k.startswith("catalog."))
    out["exec.jobs"] = len(jobs)
    for key in ("stages", "tasks", "tasks_failed", "shuffle_bytes", "spill_bytes"):
        out[f"exec.{key}"] = sum(j[key] for j in jobs)
    if df is not None:
        for phase, secs in sp.phase_seconds(df).items():
            out[f"plan.{phase}_s"] = secs
    out["_selfs"] = selfs
    return out


def _measure(wl, seconds: float, spark, tracer=None) -> list[dict]:
    """Whole rounds of the workload until its ops have been busy for
    ``seconds``; each op's result is checked outside its timed region.
    With a tracer, rounds alternate untraced and traced (the layer entry
    points wrapped), starting untraced and ending on a traced round, so the
    two kinds pair up and drift over the run lands on both."""
    from perfbench.workloads import NullTracer

    recs: list[dict] = []
    busy = 0.0
    rnd = 0
    while busy < seconds or (tracer is not None and rnd % 2):
        traced = tracer is not None and rnd % 2 == 1
        if traced:
            _install_wrappers(tracer)
        try:
            for op in wl.next_round():
                n = len(recs)
                group = f"perfbench-op{n}"
                if traced:
                    tracer.op = n
                    spark.sparkContext.setJobGroup(group, group)
                name = op if isinstance(op, str) else op.shape
                t0 = time.perf_counter()
                result, changed = None, 0
                try:
                    latency, result = wl.execute(op, tracer if traced else NullTracer())
                    ok = wl.check(op, result)
                    changed = getattr(wl, "last_changed", 0)
                except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
                    latency = time.perf_counter() - t0
                    ok = False
                    print(f"op {n} ({name}) failed: {exc!r}"[:500], file=sys.stderr)
                busy += latency
                rec = {
                    "op": n,
                    "name": name,
                    "kind": wl.kind(op),
                    "latency": latency,
                    "ok": ok,
                    "rows": wl.rows(result) if result is not None else 0,
                    "changed": changed,
                    "round": rnd,
                    "traced": traced,
                }
                if traced:
                    rec["layers"] = _op_layers(
                        tracer, spark, n, group, result[0] if result is not None else None
                    )
                recs.append(rec)
        finally:
            if traced:
                tracer.unwrap_all()
        rnd += 1
    return recs


def _p(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def _jvm_live_mb(spark) -> float:
    """JVM heap and non-heap memory in use after a full GC, in MiB: the
    memory the program retains in the JVM. A query's transient working set
    does not show in it. The JVM's peak RSS is not used, since it follows
    the collector's heap sizing and moved by a fifth between runs; the
    driver Python's peak RSS is not used either, since the benchmark's own
    corpus generation and DuckDB checks run in that process."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown_jvm() -> None:
    """Stop the JVM the session was launched in and wait for it to end."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, sf: float | None = None) -> dict:
    """Run one workload; returns the result line's fields plus a report.
    ``sf`` overrides the workload's corpus scale factor (the tests use a
    tiny one). Leaves the JVM running (``shutdown_jvm`` stops it)."""
    from perfbench import datagen, host, spans
    from perfbench.workloads import Headline, Statements

    cls = {"headline": Headline, "statements": Statements}[workload]
    nproc = host.nproc()
    load_before = os.getloadavg()
    cpu_before = host.cpu_jiffies()
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    _prepare_env(work)

    t0 = time.perf_counter()
    sf = cls.sf if sf is None else sf
    sf_dir = datagen.generate(str(work / "corpus"), sf, seed)
    datagen_s = time.perf_counter() - t0
    wl = cls(seed, sf_dir, nproc, str(work))

    # a cold set-up: the JVM is launched here unless a caller left one up
    t0 = time.perf_counter()
    spark = _start_session(wl, work, nproc)
    session_start_s = time.perf_counter() - t0
    facts = wl.setup(spark)
    setup_s = time.perf_counter() - t0

    t_warm = time.perf_counter()
    try:
        warm = wl.warm()
    except Exception as exc:  # noqa: BLE001 — reported through the failure count
        warm = [False]
        print(f"warm-up failed: {exc!r}"[:500], file=sys.stderr)

    t_measure = time.perf_counter()
    tracer = spans.Tracer() if trace else None
    recs = _measure(wl, seconds, spark, tracer)
    t_final = time.perf_counter()
    final_ok = wl.final_check() if hasattr(wl, "final_check") else True
    probe = wl.noop_probe() if trace and hasattr(wl, "noop_probe") else None

    # the end-to-end figures come from untraced ops only
    untraced = [r for r in recs if not r["traced"]]
    lat = [r["latency"] for r in untraced]
    # the warm-up rounds' checked ops count as attempted too
    attempted = len(recs) + len(warm)
    failed = sum(not r["ok"] for r in recs) + warm.count(False) + (not final_ok)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(lat),
        "latency_p75_s": _p(lat, 0.75),
        "ops_per_s": len(lat) / sum(lat),
        "jvm_live_mb": _jvm_live_mb(spark),
    }
    rss = {"python": host.vm_hwm_mb(), "jvm": host.vm_hwm_mb(_jvm_pid())}
    by_kind = {k: [r["latency"] for r in untraced if r["kind"] == k] for k in ("read", "write")}
    by_name = defaultdict(list)
    for r in untraced:
        by_name[r["name"]].append(r["latency"])
    report = {
        "workload": workload, "seed": seed, "sf": sf, "nproc": nproc,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "steal_share": round(host.steal_share(cpu_before, host.cpu_jiffies()), 4),
        "samples": len(lat),
        "samples_above_p75": sum(x > e2e["latency_p75_s"] for x in lat),
        "read_p50_s": statistics.median(by_kind["read"]) if by_kind["read"] else None,
        "write_p50_s": statistics.median(by_kind["write"]) if by_kind["write"] else None,
        "error_rate": failed / attempted,
        "datagen_s": datagen_s,
        "session_start_s": session_start_s,
        "warm_s": t_measure - t_warm,
        "measure_wall_s": t_final - t_measure,
        "peak_rss_by_process_mb": rss,
        "p50_by_op_s": {k: statistics.median(v) for k, v in sorted(by_name.items())},
        "round_s": [sum(r["latency"] for r in recs if r["round"] == x)
                    for x in sorted({r["round"] for r in recs})],
        **({"end_to_end": e2e} if trace else {}),
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if trace:
        layers, table = _layer_metrics(recs, session_start_s, facts, probe)
        out = ROOT / ".perfbench_work" / "traces" / f"{workload}-seed{seed}-{os.getpid()}"
        out.parent.mkdir(parents=True, exist_ok=True)
        tracer.write(f"{out}.spans.jsonl")
        Path(f"{out}.layers.txt").write_text(table + "\n")
        report["trace_files"] = [f"{out}.spans.jsonl", f"{out}.layers.txt"]
        report["self_time_table"] = table.splitlines()
        if probe:
            report["noop_collect_s"] = probe
        result["metrics"] = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        result["metrics"] = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    if hasattr(wl, "close"):
        wl.close()
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    result["report"] = report
    return result


def _layer_metrics(all_recs, session_start_s, facts, probe) -> tuple[dict, str]:
    from perfbench import spans

    recs = [r for r in all_recs if r["traced"]]
    n = max(1, len(recs))
    sums: dict[str, float] = defaultdict(float)
    for r in recs:
        for key, value in r["layers"].items():
            if key != "_selfs":
                sums[key] += value
    out = {k: sums.get(k, 0.0) / n for k in PER_LAYER}
    out["session.start_s"] = session_start_s
    out.update(facts)
    out["cursor.rows"] = sum(r["rows"] for r in recs) / n
    changed = sum(r["changed"] for r in recs)
    out["dml.bytes_per_row_changed"] = sums["dml.bytes_written"] / changed if changed else 0.0
    if probe:
        # headline: execution alone is the noop sink on a fresh build;
        # transfer is what a collect of a fresh build costs on top of it
        # (negative where collect's limit shortcuts beat a full execution)
        out["exec.run_s"] = statistics.mean(noop for noop, _ in probe.values())
        out["cursor.transfer_s"] = statistics.mean(c - noop for noop, c in probe.values())
    out["trace.overhead_s"] = _trace_overhead(all_recs)
    table = spans.self_time_table([r["layers"]["_selfs"] for r in recs],
                                  [r["latency"] for r in recs])
    return out, table


def _trace_overhead(recs: list[dict]) -> float:
    """Median over pairs of adjacent rounds (untraced, then traced) of the
    traced round's median latency minus the untraced round's."""
    rounds: dict[int, list[float]] = defaultdict(list)
    for r in recs:
        rounds[r["round"]].append(r["latency"])
    return statistics.median(
        statistics.median(rounds[k + 1]) - statistics.median(rounds[k])
        for k in range(0, max(rounds), 2)
    )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("headline", "statements"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not (ROOT / "otterbrix_spark" / "__init__.py").is_file():
        print(f"otterbrix_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p or ".").resolve() != ROOT / "perfbench"]
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutdown_jvm()
    report = result.pop("report")
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
