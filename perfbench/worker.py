"""One benchmark run in a fresh process: start the session, run passes back
to back, check each against the reference, and report to the parent.

Started by run.py, never by hand. Reports are single lines on stdout
prefixed with `@@perfbench `; pass boundaries are also marked on stderr so
the parent can attribute Spark log lines to passes.

Usage: worker.py <workload> <meta.pkl> <scratch_dir> <cpus> <seconds> <trace 0|1>
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import shutil
import sys
import time
import traceback

import spans as tr
from workloads import WORKLOADS, PassContext

#: measured passes per run, at least; more run while --seconds allows
MIN_MEASURED = 2


def emit(kind: str, **fields) -> None:
    print("@@perfbench " + json.dumps({"event": kind, **fields}), flush=True)


def mark(what: str, i: int) -> None:
    sys.stderr.write(f"\n@@perfbench {what} {i}\n")
    sys.stderr.flush()


def event_log_conf(scratch: str) -> dict:
    log_dir = os.path.join(scratch, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def drop_persisted(spark) -> None:
    """Unpersist every persisted RDD. getPersistentRDDs() comes back as a
    Python mapping, so its values are listed before iterating."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


def run_passes(
    spark, wl, meta, scratch, seconds, tracer, on_pass=emit, min_measured=MIN_MEASURED
) -> list[int]:
    """The first pass warms the fresh JVM; measured passes follow until both
    `min_measured` passes and `seconds` are done. Returns the measured pass
    indices. Every pass rebuilds its DataFrames, is checked, and ends with
    every persisted block dropped."""
    traced = tracer.spark is not None
    measured: list[int] = []
    measure_start = None
    i = 0
    while True:
        phase = "first" if i == 0 else "measure"
        if phase == "measure" and measure_start is None:
            measure_start = time.perf_counter()
        ctx = PassContext(spark, meta, tracer, traced, os.path.join(scratch, f"pass{i}"))
        rec = {"pass": i, "phase": phase}
        mark("begin", i)
        start = time.perf_counter()
        try:
            with tracer.span("pass", **{"pass": i}):
                out = wl.run(ctx)
            rec["seconds"] = time.perf_counter() - start
            mark("end", i)
            ok, f1, info = wl.check(out, meta)
            rec.update(ok=ok, f1=f1, **info)
        except Exception as exc:  # a failed pass counts in error_rate
            rec["seconds"] = time.perf_counter() - start
            mark("end", i)
            traceback.print_exc()
            rec.update(ok=False, f1=0.0, error=f"{type(exc).__name__}: {exc}"[:500])
            out = None
        rec["pins_left"] = len(spark.sparkContext._jsc.getPersistentRDDs())
        if traced and phase == "first" and out is not None:
            rec["ratios"] = wl.ratios(ctx, out)
        drop_persisted(spark)
        shutil.rmtree(ctx.scratch, ignore_errors=True)
        on_pass("pass", **rec)
        if phase == "measure":
            measured.append(i)
            if len(measured) >= min_measured and time.perf_counter() - measure_start >= seconds:
                return measured
        i += 1


def layer_event(tracer, measured, scratch, cpus) -> dict:
    """Per-layer metrics from the event log, plus every span record."""
    for rec in tracer.records:
        rec["self_s"] = tr.self_time(tracer.records, rec)
    logs = glob.glob(os.path.join(scratch, "eventlog", "*"))
    groups = tr.read_event_log(logs[0]) if logs else {}
    return {
        "metrics": tr.layer_report(tracer.records, groups, cpus, set(measured)),
        "spans": tracer.records,
    }


def main() -> None:
    name, meta_path, scratch, cpus, seconds, traced = sys.argv[1:7]
    cpus, seconds, traced = int(cpus), float(seconds), traced == "1"
    with open(meta_path, "rb") as f:
        meta = pickle.load(f)

    from pytorch_ie_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(
        app_name=f"perfbench-{name}",
        cpus=cpus,
        extra_conf=event_log_conf(scratch) if traced else None,
    )
    spark.range(1).count()
    emit("ready", t=time.time(), session_s=time.time() - t0)

    tracer = tr.Tracer(spark if traced else None)
    measured = run_passes(spark, WORKLOADS[name], meta, scratch, seconds, tracer)
    spark.stop()
    if traced:
        emit("layers", **layer_event(tracer, measured, scratch, cpus))
    emit("done")


if __name__ == "__main__":
    main()
