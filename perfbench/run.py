"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``perfbench/.work/``, starts a session through
``session.get_spark`` on ``local[$SPARK_GRAFT_CPUS]`` (default: up to 4
cores, heap ``$SPARK_GRAFT_DRIVER_MEM``, default 2g), runs the workload's
closed loop for about ``--seconds`` seconds, checks every output, stops the
session and its JVM, and removes what it wrote (the work directory and the
engine's derived layouts for the generated inputs).

stdout carries one ``name value unit`` line per metric, then as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``; the per-layer
metrics of a traced run, with Spark's event log on, with ``--trace 1``).
Spark's own logging goes to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Generated inputs are named ``pbw<pid>_...``, which is also the tag of
#: every derived layout the engine builds for them under spark-warehouse/.
_OWNED = re.compile(r"pbw(\d+)_")

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "pass_p50_s": "s",
}


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _clean(work_root: str, warehouse: str) -> None:
    """Remove this process's work directory and derived layouts, and those
    of benchmark runs that are no longer running."""
    me = os.getpid()
    dirs = [os.path.join(work_root, d) for d in os.listdir(work_root)] if os.path.isdir(work_root) else []
    if os.path.isdir(warehouse):
        dirs += [os.path.join(warehouse, d) for d in os.listdir(warehouse) if _OWNED.search(d)]
    for d in dirs:
        m = _OWNED.search(os.path.basename(d))
        pid = int(m.group(1)) if m else None
        if pid is None or pid == me or not _alive(pid):
            shutil.rmtree(d, ignore_errors=True)
    if os.path.isdir(work_root) and not os.listdir(work_root):
        os.rmdir(work_root)


def _layout_markers(warehouse: str) -> dict[str, float]:
    pattern = os.path.join(warehouse, f"*pbw{os.getpid()}_*", "**", "_SUCCESS")
    return {p: os.path.getmtime(p) for p in glob.glob(pattern, recursive=True)}


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def end_to_end(result) -> dict[str, float]:
    return {
        "setup_s": result.setup_parts["start_s"] + result.setup_parts["warmup_s"],
        "op_p50_s": statistics.median(result.all_latencies()),
        "pass_p50_s": statistics.median(result.passes),
    }


def _report(result, workload: str, peak_rss_mb: float) -> list[tuple[str, float, str]]:
    """Human-readable extras: error rate, tail latency, memory, per-kind
    medians and workload throughputs."""
    lines = [
        ("ops_timed", len(result.all_latencies()), "count"),
        ("op_p90_s", _p90(result.all_latencies()), "s"),
        ("peak_rss_mb", peak_rss_mb, "MB"),
        ("passes", len(result.passes), "count"),
        ("error_rate", result.failed / max(1, result.attempted), "share"),
        ("session.start_s", result.setup_parts["start_s"], "s"),
        ("session.warmup_s", result.setup_parts["warmup_s"], "s"),
    ]
    if workload == "lake_maintenance":
        for kind in ("fold", "ingest", "index", "read"):
            if result.latencies.get(kind):
                lines.append((f"{kind}_p50_s", statistics.median(result.latencies[kind]), "s"))
        lines.append(("rows_per_s", result.extra.get("rows_per_s", 0.0), "rows/s"))
        lines.append(("write_amp", result.extra.get("write_amp", 0.0), "bytes/byte"))
    if workload == "corpus":
        lines.append(("docs_per_s", result.extra["docs_per_s"], "docs/s"))
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Seeded workload benchmark of the engine.")
    ap.add_argument("--workload", required=True, choices=("analyst", "corpus", "lake_maintenance"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)
    sys.dont_write_bytecode = True  # leave no caches in the checkout

    if not os.path.isdir(os.path.join(ROOT, "vacancy_analyser_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "parity.py")
    ):
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2

    warehouse = os.path.join(ROOT, "spark-warehouse")
    had_warehouse = os.path.isdir(warehouse)
    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"pbw{os.getpid()}_{args.workload}_{args.seed}")
    _clean(work_root, warehouse)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    import spans as tr

    tracer = None
    if args.trace:
        tracer = tr.Tracer()
        tr.install(tracer)  # before any plan module binds the originals

    import __spark_entry__ as entry
    import checks
    import workloads
    from vacancy_analyser_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    log_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        start_s = time.perf_counter() - t0
        listened: list[dict] = []
        if args.trace:
            spark.streams.addListener(tr.progress_listener(listened))
        ctx = workloads.Ctx(
            spark, entry.queries(), entry.oracle_sql(), checks.load_parity(ROOT), tracer,
            work, args.seed, args.seconds, args.tiny,
        )
        ctx.layout_markers = lambda: _layout_markers(warehouse)
        ctx.result.setup_parts["start_s"] = start_s
        workloads.WORKLOADS[args.workload](ctx)
        result = ctx.result
        peak = _peak_rss_mb(spark)
        if args.trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
        _stop(spark)
        spark = None

        if args.trace:
            own, own_ids = ctx.stream_progress
            progress = own + [p for p in listened if p.get("id") not in own_ids]
            jobs, tasks = tr.read_event_log(log_dir)
            extra = dict(result.extra, layout_rebuilds=ctx.layout_rebuilds)
            metrics = tr.summarize(tracer, jobs, tasks, progress, cores, extra)
            metrics["session.start_s"] = start_s
            metrics["session.warmup_s"] = result.setup_parts["warmup_s"]
            units = {k: _unit(k) for k in metrics}
        else:
            metrics = end_to_end(result)
            units = END_TO_END_UNITS
        for name, value, unit in _report(result, args.workload, peak):
            print(f"{name} {value:.6g} {unit}")
        for name, value in metrics.items():
            print(f"{name} {value:.6g} {units[name]}")
        print(json.dumps({
            "correct": result.failed == 0,
            "attempted": result.attempted,
            "failed": result.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        _clean(work_root, warehouse)
        if not had_warehouse and os.path.isdir(warehouse) and not os.listdir(warehouse):
            os.rmdir(warehouse)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", ".coverage")):
        return "share"
    if name.endswith("task_skew"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
