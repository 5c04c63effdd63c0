"""Benchmark of record for the market-data engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload medallion_daily --seed 1 \
        --seconds 12 --trace 0

One process, one closed-loop client: the benchmark calls the package's
public functions itself, with Spark at ``local[$SPARK_GRAFT_CPUS]``
(default: the machine's CPU count). The last line of stdout is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records the box and run context.
Everything the run writes goes under ``.perfbench_work/`` in the
current directory; the program's own stdout and stderr go to
``stderr.log`` there.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

T_PROCESS = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "market_data_pipeline_databricks_spark"
sys.path.insert(0, str(HERE))

import procstat  # noqa: E402
from stats import median  # noqa: E402

UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "write_bytes_per_op": "bytes",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}


def _source_digest() -> str:
    """sha256 over the package's and the benchmark's Python sources, so
    a run names the code it measured even where no git metadata exists."""
    h = hashlib.sha256()
    for p in sorted([*(ROOT / PACKAGE).rglob("*.py"), *HERE.glob("*.py")]):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    """HEAD of the repository the benchmark sits in, if it is one."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             text=True, capture_output=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or Path(lines[0]).resolve() != ROOT:
        return None
    return lines[1]


def _capture_output(log: Path):
    """Point fds 1 and 2 (inherited by the JVM and its workers) at
    ``log``; return writers for the original stdout and stderr."""
    sys.stdout.flush()
    sys.stderr.flush()
    out = os.fdopen(os.dup(1), "w")
    err = os.fdopen(os.dup(2), "w")
    fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    return out, err


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be closed
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        rest = procstat.tree_pids() - {os.getpid()}
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        time.sleep(0.2)


EXCEPTION_LINE = re.compile(r"^[\w.$]+(Exception|Error)(: |$)")


def _log_counts(log: Path) -> dict:
    """Lines of the captured program output that report double caching,
    and lines that report an error: log4j ERROR records plus the first
    line of each Java or Python exception trace."""
    cached = errors = 0
    with open(log, errors="replace") as f:
        for line in f:
            if "Asked to cache already cached data" in line:
                cached += 1
            parts = line.split(" ", 3)
            if (len(parts) > 2 and parts[2] == "ERROR") or EXCEPTION_LINE.match(line):
                errors += 1
    return {"caching.already_cached_warnings": cached, "log.error_lines": errors}


def run(args, work: Path) -> tuple[dict, dict]:
    from tracing import Tracer, attribute, is_timed, layer_metrics, parse_event_log
    from workloads import WORKLOADS

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    wl = WORKLOADS[args.workload](work, args.seed, bool(args.trace))
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "spark_graft_cpus": cores,
        "commit": _commit(), "source_sha256": _source_digest(),
    }
    # the box reading and input generation are not set-up work
    t_gen = time.perf_counter()
    context["box_start"] = procstat.box_reading()
    wl.prepare()
    gen_s = time.perf_counter() - t_gen

    t_session = time.perf_counter()
    from market_data_pipeline_databricks_spark import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    if args.trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t_session
    tracer = Tracer(spark.sparkContext if args.trace else None)
    try:
        with tracer.span("setup", layer="setup") as s:
            wl.setup(spark, tracer)
        warm_s = s["dur"]
        # set-up as the process saw it, with input generation taken out
        setup_s = time.perf_counter() - T_PROCESS - gen_s

        pids = procstat.tree_pids()
        cpu0, wchar0 = procstat.tree_cpu_s(pids), procstat.tree_wchar(pids)
        jif0 = procstat.cpu_jiffies()
        lat: list[float] = []
        errors: dict[int, str] = {}
        t0 = time.perf_counter()
        for ops in wl.passes(spark, tracer):
            for name, op in ops:
                try:
                    with tracer.span("op", layer="op", timed=True, query=name) as s:
                        op()
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    errors[len(lat)] = f"{name}: {traceback.format_exc(limit=-3)[-2000:]}"
                lat.append(s["dur"])
            if time.perf_counter() - t0 >= args.seconds:
                break
        loop_s = time.perf_counter() - t0
        jif1 = procstat.cpu_jiffies()
        pids = procstat.tree_pids()
        cpu1, wchar1 = procstat.tree_cpu_s(pids), procstat.tree_wchar(pids)
        peak_rss = procstat.tree_peak_rss_mb(pids)

        with tracer.span("check", layer="check"):
            bad, msgs = wl.check(spark)
        n = len(lat)
        failed_ops = set(errors) | bad
        extra = wl.extra(n)
    finally:
        _stop_spark(spark)

    e2e = {
        "setup_s": setup_s,
        "ops_per_s": n / loop_s,
        "op_p50_s": median(lat),
        "write_bytes_per_op": (wchar1 - wchar0) / n,
    }
    spans = tracer.spans
    layer = {
        # per-layer rather than end-to-end: JIT and GC threads make
        # them vary by more than a tenth between runs
        "cpu_s_per_op": (cpu1 - cpu0) / n,
        "peak_rss_mb": peak_rss,
        "session.get_spark_s": session_s,
        "session.warmup_s": warm_s,
        "bench.op_self_s": median(
            [tracer.self_time(s["id"]) for s in spans if s["name"] == "op"]),
    }
    for stage in ("bronze", "silver", "gold", "quality"):
        layer[f"pipeline.run_{stage}_s"] = median(
            [s["dur"] for s in spans
             if s["name"] == f"pipeline.run_{stage}" and is_timed(spans, s["id"])])
    for metric, span in (("plans.build_s", "plans.call"), ("plans.force_s", "plans.force")):
        layer[metric] = median(
            [s["dur"] for s in spans if s["name"] == span and is_timed(spans, s["id"])])
    for fam in ("stream", "warehouse"):
        layer[f"plans.family.{fam}_s"] = median(
            [s["dur"] for s in spans if s["name"] == "drive" and is_timed(spans, s["id"])
             and s["query"].startswith(fam + "_")])
    layer.update(extra)
    layer.update(_log_counts(work / "stderr.log"))
    layer["error_rate"] = len(failed_ops) / n

    # untraced throughput of this code at this run length and core
    # count, kept across runs in the same checkout for trace_overhead
    history = work.parent / f"untraced-{args.workload}.jsonl"
    key = {k: context[k] for k in ("source_sha256", "seconds", "spark_graft_cpus")}
    if args.trace:
        logs = list((work / "eventlog").iterdir())
        log = parse_event_log(logs[0])
        attribute(log, spans)
        layer.update(layer_metrics(log, spans, n, cores))
        base = []
        if history.exists():
            rows = [json.loads(x) for x in history.read_text().splitlines()]
            base = [r["ops_per_s"] for r in rows if r["key"] == key]
        # None until an untraced run of the same code exists
        context["trace_overhead"] = e2e["ops_per_s"] / median(base) if base else None
        context["trace_overhead_baseline_runs"] = len(base)
    else:
        with open(history, "a") as f:
            f.write(json.dumps({"key": key, "seed": args.seed,
                                "ops_per_s": e2e["ops_per_s"]}) + "\n")

    context.update({
        "box_end": procstat.box_reading(),
        "input_generation_s": gen_s,
        "run_s": loop_s,
        # share of the box's CPU time the hypervisor gave to other guests
        # during the timed loop
        "steal_share_run": (jif1[1] - jif0[1]) / max(1, jif1[0] - jif0[0]),
        "op_latencies_s": lat,
        "drives": [(s["query"], s["dur"]) for s in spans
                   if s["name"] == "drive" and is_timed(spans, s["id"])],
        "errors": [errors[i] for i in sorted(errors)],
        "check_failures": msgs,
    })
    metrics = e2e if not args.trace else layer
    if not args.trace:
        context["per_layer_untraced"] = layer
    result = {
        "correct": not failed_ops,
        "attempted": n,
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }
    return context, result


def _unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_amp", "_share", "_rate")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    base = Path.cwd() / ".perfbench_work"
    work = base / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM spark-submit starts (its launcher too) keeps its temp
    # files in the run dir and writes no hsperfdata to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, str(ROOT))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    out, err = _capture_output(work / "stderr.log")
    try:
        context, result = run(args, work)
    except Exception:  # noqa: BLE001 - report why no result was printed
        print(f"perfbench: run aborted:\n{traceback.format_exc()}", file=err)
        err.flush()
        return 1
    finally:
        for d in work.iterdir():
            if d.is_dir():
                shutil.rmtree(d, ignore_errors=True)
    (work / "record.json").write_text(json.dumps({"context": context, "result": result},
                                                 indent=1, default=str))
    out.write(json.dumps({"context": context}, default=str) + "\n")
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
