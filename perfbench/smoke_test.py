"""Smoke test of the benchmark harness on tiny seeded inputs.

    python3 perfbench/smoke_test.py        (or: python3 -m pytest perfbench/smoke_test.py)

Runs every workload traced, in one session, and asserts that every named
end-to-end and per-layer metric is emitted with its unit, that every span
is recorded, that spans nest inside their parents, and that self time is
never negative. Takes about a minute and a half on 4 cores.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import spans  # noqa: E402
import worker  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = {
    "kg_build": {"n_docs": 40, "n_families": 30},
    "ingest_incremental": {"n_docs": 40, "n_parts": 2},
    "extract_bulk": {"n_docs": 20, "copies": 2},
    "near_dup": {"n_docs": 40, "n_copies": 10},
}
CPUS = 2


def test_harness_emits_every_metric_and_span():
    root = os.path.join(run.WORK, "smoke")
    shutil.rmtree(root, ignore_errors=True)
    scratch = os.path.join(root, "scratch")
    os.makedirs(os.path.join(scratch, "local"))
    os.environ.update(PYTHONPATH=run.ROOT, SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
    metas = {}
    for name, sizes in TINY.items():
        wl = type(WORKLOADS[name])()
        for k, v in sizes.items():
            setattr(wl, k, v)
        metas[name] = (wl, wl.prepare(7, os.path.join(root, "inputs", name)))

    from pytorch_ie_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(
        app_name="perfbench-smoke", cpus=CPUS, extra_conf=worker.event_log_conf(scratch)
    )
    spark.range(1).count()
    ready = {"event": "ready", "t": time.time(), "session_s": time.time() - t0}
    tracer = spans.Tracer(spark)
    events = {name: [ready] for name in TINY}
    measured = set()
    for name, (wl, meta) in metas.items():
        measured |= set(
            worker.run_passes(
                spark, wl, meta, os.path.join(scratch, name), 0, tracer,
                on_pass=lambda kind, **rec: events[name].append({"event": kind, **rec}),
                min_measured=1,
            )
        )
    spark.stop()
    layers = {"event": "layers", **worker.layer_event(tracer, measured, scratch, CPUS)}
    log_path = os.path.join(root, "empty.log")
    open(log_path, "w").close()

    want_layer = dict(spans.per_layer_names())
    seen_spans = set()
    for name, (_, meta) in metas.items():
        passes = [e for e in events[name] if e["event"] == "pass"]
        # the F1 gates need full-size inputs; here every pass must only run
        assert passes and not any("error" in p for p in passes), passes
        summary = run.summarize(name, meta, events[name], log_path, 1.0, 1.0, False)
        e2e = run.report(name, 7, CPUS, summary, False)
        want = dict(run.END_TO_END)
        if name == "near_dup":
            del want["triples_per_s"]
        assert {k: v["unit"] for k, v in e2e.items()} == want
        assert all(isinstance(v["value"], float) and v["value"] > 0 for v in e2e.values()), e2e
        table = {"peak_rss_mb", "result_f1", "error_rate", "pins_left"}
        if name == "ingest_incremental":
            table.add("bytes_per_triple")
        assert table <= set(summary), table - set(summary)
        traced = run.summarize(name, meta, events[name] + [layers], log_path, 1.0, 1.0, True)
        per_layer = run.report(name, 7, CPUS, traced, True)
        assert {k: v["unit"] for k, v in per_layer.items()} == want_layer
        seen_spans |= {s for s in spans.SPANS if per_layer[f"{s}.wall_s"]["value"] > 0}
    assert seen_spans == set(spans.SPANS), set(spans.SPANS) - seen_spans

    records = layers["spans"]
    by_id = {r["id"]: r for r in records}
    for r in records:
        assert r["self_s"] >= -1e-9, r
        if r["name"] in spans.SPANS:
            parent = by_id[r["parent"]]
            assert parent["name"] == "pass", r
            assert parent["start"] <= r["start"] <= r["end"] <= parent["end"], (parent, r)
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    test_harness_emits_every_metric_and_span()
    print("smoke test passed")
