#!/usr/bin/env python3
"""The engine's benchmark: two workloads, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 20 --trace 0

Workloads (perfbench/README.md says why each exists and what it holds):

* ``llm_corpus``  -- five dedup/text/multimodal/similarity headline queries
  where plan-build and the Python seam live;
* ``etl_refresh`` -- weekly MERGE/read-back/append/OPTIMIZE cycles on a
  transaction-log table of sf0.1 orders; its batches come from ``--seed``.

A run sets up the session ``SETUPS`` times (reporting the median), runs
one cold and about ``--seconds`` worth of steady timed passes (a count
fixed per workload, see ``NOMINAL_PASS_S``), then checks every output
outside the timed window.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics of BENCHMARK.json, or with ``--trace 1`` its per-layer metrics,
from a run whose spans scope Spark job groups and whose event log is
parsed.  The line before it is a detail record: environment, sample
counts, tails and the layer-separation checks.  Inputs, scratch and the
event log live in perfbench/.work.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pathlib
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "imdb_top_250_etl_pipeline_spark"

SETUPS = 3
MIN_STEADY = 3
# Seconds one steady pass takes on the reference box (4 cores, see
# README).  A run measures one cold pass plus max(MIN_STEADY,
# ceil(--seconds / NOMINAL_PASS_S)) steady passes: a fixed amount of work,
# so a slow or fast machine changes the times, never how many passes (and
# how warm a JIT) the median is taken over.
NOMINAL_PASS_S = {"llm_corpus": 7.0, "etl_refresh": 5.0}
DRIVER_MEMORY = "4g"
WORKLOAD_SF = {"llm_corpus": 0.01, "etl_refresh": 0.1}
WARM_SF = 0.001
ETL_BATCH_ROWS = 1600  # updates per merge batch; +25% new keys


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_PASS_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, default=None, help="override the workload's scale (self-tests)"
    )
    return ap.parse_args(argv)


def pin_environment(traced: bool) -> dict:
    """Fix everything that changes the numbers, before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    events = os.path.join(WORK, "eventlog")
    for d in (local, tmp, events):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed young generation keeps the heap's resident size from
        # following G1's pause-time sizing, so peak_rss_mb tracks live data
        "spark.driver.extraJavaOptions": f"-Xmn1g -Djava.io.tmpdir={tmp}",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": pathlib.Path(events).as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # every JVM, the spark-submit launcher's too: no perf-data file
            # in the system temp directory
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
            )
            + " pyspark-shell",
        }
    )
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "master": f"local[{cpus}]",
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "cores": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
    }


def hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return kb / 1024


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_cpu(before: list[int], after: list[int]) -> dict:
    """Shares of machine CPU time over the run: busy (any process, ours
    included), idle and stolen by the hypervisor -- the context a noisy
    run is read in."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return {"busy": (d[0] + d[1] + d[2]) / total, "idle": (d[3] + d[4]) / total,
            "steal": d[7] / total}


def tail(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    i = n - 11
    return {"pct": round(100 * (i + 1) / n, 1), "value": sorted(xs)[i], "n": n}


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF, taking its workers along
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found next to perfbench/",
              file=sys.stderr)
        return 2
    traced = bool(args.trace)
    # only this run's event log is read; earlier runs' would pile up
    shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if traced else "end_to_end"]
    env = pin_environment(traced)
    sys.path[:0] = [ROOT, HERE]

    import datagen
    import duckdb
    import pyspark
    import spans as tracing
    import workloads as wl
    from imdb_top_250_etl_pipeline_spark.operators.pinning import pinned_rdd_count
    from imdb_top_250_etl_pipeline_spark.session import get_spark

    env.update(pyspark=pyspark.__version__, duckdb=duckdb.__version__)
    sf = args.sf if args.sf is not None else WORKLOAD_SF[args.workload]
    n_passes = 1 + max(MIN_STEADY, math.ceil(args.seconds / NOMINAL_PASS_S[args.workload]))
    data = os.path.join(WORK, "data")
    sf_dir = datagen.ensure_tables(data, sf)
    warm_dir = datagen.ensure_tables(data, WARM_SF)
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir

    if args.workload == "etl_refresh":
        import pyarrow.parquet as pq

        etl_dir = os.path.join(WORK, "etl")
        n_keys = pq.ParquetFile(os.path.join(sf_dir, "orders.parquet")).metadata.num_rows
        rows = max(50, int(ETL_BATCH_ROWS * sf / 0.1))
        cycles = datagen.write_etl_cycles(
            os.path.join(etl_dir, "batches"), args.seed, n_keys, n_passes, rows
        )
        w = wl.EtlRefresh(sf_dir, warm_dir, etl_dir, cycles, traced)
        read_kind = "read"
    else:
        with open(os.path.join(HERE, "expected_hashes.json")) as f:
            expected = json.load(f)
        w = wl.QueryWorkload(wl.LLM_CORPUS, sf_dir, warm_dir, expected.get(f"sf{sf:g}", {}), traced)
        read_kind = "query"

    tr = tracing.Tracer()
    ticks = cpu_ticks()
    setups = []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                tr.sc = None
                spark.stop()
            t0 = time.perf_counter()
            with tr.span("session.start"):
                spark = get_spark("perfbench")
            if traced:
                tr.sc = spark.sparkContext
            w.setup(spark, tr)
            setups.append(time.perf_counter() - t0)

        ops = wl.Ops()
        passes: list[float] = []
        pass_of: list[dict] = []  # per pass: how many latencies of each kind it added
        checking = 0.0
        for p in range(n_passes):
            counts = {k: len(v) for k, v in ops.lat.items()}
            with tr.span("pass", op=f"pass{p}") as ps:
                t0 = time.perf_counter()
                c = w.run_pass(spark, tr, p, ops, check=(p == 0))
                passes.append(time.perf_counter() - t0 - c)
                if traced:
                    ps.attrs["pins_end"] = pinned_rdd_count(spark)
            checking += c
            pass_of.append({k: len(v) - counts.get(k, 0) for k, v in ops.lat.items()})

        t0 = time.perf_counter()
        with tr.span("check"):
            checks = w.verify(spark, ops)
        verify_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = hwm_mb(jvm_pid) + hwm_mb("self")
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:  # also on error: no JVM outlives the run
            stop_jvm(spark)

    def steady(kind: str) -> list[float]:
        """Latencies of ``kind`` from every pass after the first."""
        first = pass_of[0].get(kind, 0)
        return ops.lat.get(kind, [])[first:]

    failed = len(ops.failed)
    attempted = max(1, ops.attempted)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf": sf,
        "env": env,
        "setups_s": setups,
        "passes_s": passes,
        # the cold pass a fresh batch pays; reported, not gated (README)
        "first_pass_s": {"value": passes[0], "unit": "s"},
        "check_s": checking + verify_s,
        "host_cpu": host_cpu(ticks, cpu_ticks()),
        "ops": {
            k: {"n": len(v), "p50": statistics.median(v), "tail": tail(v)}
            for k, v in ops.lat.items()
        },
        "fail_frac": failed / attempted,
        "failed_ops": ops.failed[:20],
        "checks": checks,
    }
    if args.workload != "etl_refresh":
        detail["per_query_s"] = w.per_query
    else:
        merges = steady("merge")
        detail.update(
            merge_s_p50=statistics.median(merges),
            merge_s_tail=tail(ops.lat["merge"]),
            read_s_p50=statistics.median(steady("read")),
            write_amp=w.bytes_written / max(1, w.bytes_user),
        )

    if traced:
        tr.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        groups = tracing.group_metrics(
            tracing.find_event_log(os.path.join(WORK, "eventlog"), app_id)
        )
        pass_spans = [s for s in tr.spans if s.name == "pass"]
        per_pass = [tracing.pass_layers(tr.spans, groups, s) for s in pass_spans[1:]]
        metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        for name in ("session.start", "session.warmup"):
            metrics[f"{name}_s"] = statistics.median(s.dur for s in tr.spans if s.name == name)
        detail["layer_checks"] = layer_checks(args.workload, metrics, per_pass)
        last = os.path.join(WORK, f"untraced-{args.workload}.json")
        if os.path.exists(last):
            base = json.load(open(last))["pass_s"]
            detail["trace_overhead_s"] = metrics["trace.pass_s"] - base
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "pass_s": statistics.median(passes[1:]),
            "read_s_p50": statistics.median(steady(read_kind)),
            "peak_rss_mb": peak_rss,
            "ok_frac": 1.0 - failed / attempted,
        }
        with open(os.path.join(WORK, f"untraced-{args.workload}.json"), "w") as f:
            json.dump(metrics, f)

    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec}
    print(json.dumps({"detail": detail}), flush=True)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
        ),
        flush=True,
    )
    return 0


def layer_checks(workload: str, m: dict, per_pass: list[dict]) -> dict:
    """The traced run's layer-separation sanity checks, as recorded facts."""
    build_frac = m["plans.build_s"] / m["trace.pass_s"]
    pyseam = m["pyseam.bytes_to_py"] + m["pyseam.bytes_from_py"]
    txn_seen = m["txn.merge_jobs"] + m["txn.log_versions"] + m["txn.bytes_written"]
    out = {
        "build_frac": build_frac,
        "span_coverage_min": min(p["trace.span_coverage"] for p in per_pass),
    }
    out["coverage_ok"] = out["span_coverage_min"] >= 0.95
    # plan-build dominates the workload built around it and is absent
    # from the one that bypasses it
    if workload == "llm_corpus":
        out["build_frac_ok"] = build_frac >= 0.40
    else:
        out["build_frac_ok"] = build_frac < 0.15
    out["pyseam_ok"] = (pyseam > 0) == (workload == "llm_corpus")
    out["txn_ok"] = (txn_seen > 0) == (workload == "etl_refresh")
    return out


if __name__ == "__main__":
    sys.exit(main())
