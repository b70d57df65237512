"""KG-construction benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Generates the seeded inputs and their reference outputs (cached per seed,
untimed), starts one worker process (one driver, local[cpus]) that runs
passes back to back, checks every pass, and prints every metric by name
and unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`).

`--scaling` runs extract_bulk at cpus=1 and at cpus=nproc and reports
scaling_eff = (docs_per_s@nproc / docs_per_s@1) / nproc.

See perfbench/README.md for the workloads, the metrics and what moves them.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170.0
NPROC = len(os.sched_getaffinity(0))

sys.path.insert(0, HERE)
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: end-to-end metrics reported in the result JSON, with their units
END_TO_END = (
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("pass_s", "s"),
    ("docs_per_s", "1/s"),
    ("triples_per_s", "1/s"),
)
#: end-to-end metrics printed in the table only (see README.md for why)
TABLE_ONLY = (
    ("peak_rss_mb", "MB"),
    ("result_f1", "ratio"),
    ("bytes_per_triple", "B"),
    ("error_rate", "ratio"),
    ("pins_left", "count"),
    ("host_steal_pct", "%"),
)


def prepare(name: str, seed: int) -> str:
    """Inputs and reference for (workload, seed), generated once."""
    root = os.path.join(WORK, "inputs", f"{name}-s{seed}")
    meta_path = os.path.join(root, "meta.pkl")
    if not os.path.exists(meta_path):
        shutil.rmtree(root, ignore_errors=True)
        meta = WORKLOADS[name].prepare(seed, root)
        with open(meta_path + ".tmp", "wb") as f:
            pickle.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
    return meta_path


def stop_all(procs: dict[int, str]) -> None:
    """Terminate every process of `procs` (pid -> start time) that is still
    running, and wait for them to end."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = spans.alive(procs)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 5.0
        while spans.alive(procs) and time.time() < end:
            time.sleep(0.1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def run_worker(name: str, meta_path: str, cpus: int, seconds: float, traced: bool, deadline: float):
    """Runs one worker; returns (events, stderr log path, setup_s, peak RSS
    MB, host steal %, exit code) and removes everything it wrote except the
    log."""
    scratch = os.path.join(WORK, "runs", f"{name}-{os.getpid()}-c{cpus}-t{int(traced)}")
    shutil.rmtree(scratch, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(scratch, sub))
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        TMPDIR=os.path.join(scratch, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData",
    )
    log_path = os.path.join(WORK, "logs", f"{name}-c{cpus}-t{int(traced)}.stderr")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        name,
        meta_path,
        scratch,
        str(cpus),
        str(seconds),
        "1" if traced else "0",
    ]
    events: list[dict] = []
    with open(log_path, "w") as err:
        steal0 = cpu_ticks()
        t_spawn = time.time()
        proc = subprocess.Popen(
            cmd, cwd=scratch, env=env, stdout=subprocess.PIPE, stderr=err, text=True
        )
        sampler = spans.RssSampler(proc.pid)
        sampler.start()

        def read():
            for line in proc.stdout:
                if line.startswith("@@perfbench "):
                    events.append(json.loads(line[len("@@perfbench "):]))

        reader = threading.Thread(target=read, daemon=True)
        reader.start()
        code = None
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            sampler.stop()
            steal1 = cpu_ticks()
            stop_all(sampler.seen)
            proc.wait()
            reader.join(timeout=5)
    shutil.rmtree(scratch, ignore_errors=True)
    ready = next((e for e in events if e["event"] == "ready"), None)
    setup_s = ready["t"] - t_spawn if ready else None
    steal = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    return events, log_path, setup_s, sampler.peak_kb / 1024.0, steal, code


def summarize(name: str, meta: dict, events, log_path, setup_s, peak_mb, traced: bool) -> dict:
    passes = [e for e in events if e["event"] == "pass"]
    measured = [p for p in passes if p["phase"] == "measure"]
    first = passes[0] if passes else None
    pass_s = statistics.median(p["seconds"] for p in measured) if measured else None
    s = {
        "passes": passes,
        "attempted": len(passes),
        "failed": sum(1 for p in passes if not p["ok"]),
        "setup_s": setup_s,
        "first_pass_s": first["seconds"] if first else None,
        "pass_s": pass_s,
        "n_measured": len(measured),
        "peak_rss_mb": peak_mb,
        "result_f1": min((p["f1"] for p in passes), default=0.0),
        "pins_left": statistics.median(p["pins_left"] for p in measured) if measured else 0,
    }
    if pass_s:
        s["docs_per_s"] = meta["n_docs"] / pass_s
        if name != "near_dup":
            s["triples_per_s"] = statistics.median(p.get("triples", 0) for p in measured) / pass_s
    if name == "ingest_incremental" and measured:
        s["bytes_per_triple"] = statistics.median(p["bytes_per_triple"] for p in measured)
    s["error_rate"] = s["failed"] / s["attempted"] if s["attempted"] else 1.0
    if traced:
        layers = next((e for e in events if e["event"] == "layers"), None)
        m = dict(layers["metrics"]) if layers else {}
        ready = next((e for e in events if e["event"] == "ready"), {})
        m["session.wall_s"] = ready.get("session_s", 0.0)
        ratios = next((p["ratios"] for p in passes if p.get("ratios")), {})
        for r in spans.RATIOS:
            m[r] = ratios.get(r, 0.0)
        m["pins_left"] = s["pins_left"]
        logs = spans.count_log_lines(log_path)
        ids = [p["pass"] for p in measured]
        for level in ("WARN", "ERROR"):
            m[f"log.{level.lower()}"] = (
                sum(logs.get(i, {}).get(level, 0) for i in ids) / len(ids) if ids else 0
            )
        s["layers"] = m
        s["spans"] = layers["spans"] if layers else []
    return s


def fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}" if isinstance(v, float) else str(v)


def report(name, seed, cpus, s, traced: bool) -> dict:
    """Prints the human-readable table; returns the result JSON metrics."""
    print(
        f"# perfbench workload={name} seed={seed} cpus={cpus} trace={int(traced)} "
        f"passes={s['attempted']} (1 first, {s['n_measured']} measured)"
    )
    for p in s["passes"]:
        extra = f" error={p['error']}" if "error" in p else ""
        print(
            f"#   pass {p['pass']} {p['phase']:<7} {p['seconds']:.3f} s "
            f"ok={p['ok']} f1={p['f1']:.4f}{extra}"
        )
    for k, u in END_TO_END + TABLE_ONLY:
        if k in s:
            print(f"{k:<28} {fmt(s[k]):>14} {u}")
    if not traced:
        return {k: {"value": s[k], "unit": u} for k, u in END_TO_END if s.get(k) is not None}
    base = os.path.join(WORK, "results", f"{name}-s{seed}-c{cpus}.json")
    if os.path.exists(base) and s["pass_s"]:
        with open(base) as f:
            untraced = json.load(f)["pass_s"]
        overhead = fmt(s["pass_s"] - untraced)
        print(f"{'trace_overhead_s':<28} {overhead:>14} s (traced pass_s - untraced pass_s)")
    else:
        print(f"{'trace_overhead_s':<28} {'n/a':>14} (run --trace 0 with this seed first)")
    measured = {p["pass"] for p in s["passes"] if p["phase"] == "measure"}
    for r in s["spans"]:
        if r["name"] == "pass" and r.get("pass") in measured:
            wall = r["end"] - r["start"]
            print(f"#   span pass{r['pass']}: {wall:.3f} s, self {r['self_s']:.3f} s")
    out = {}
    for k, u in spans.per_layer_names():
        v = s["layers"].get(k, 0)
        out[k] = {"value": v, "unit": u}
        if v:
            print(f"{k:<28} {fmt(v):>14} {u}")
    return out


def run_one(name, seed, cpus, seconds, traced, deadline):
    meta_path = prepare(name, seed)
    with open(meta_path, "rb") as f:
        meta = pickle.load(f)
    events, log_path, setup_s, peak_mb, steal, code = run_worker(
        name, meta_path, cpus, seconds, traced, deadline
    )
    done = any(e["event"] == "done" for e in events)
    if code != 0 or not done:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        sys.stderr.write(
            f"perfbench: worker exited with {code} (done={done}); stderr tail:\n{tail}\n"
        )
        return None
    s = summarize(name, meta, events, log_path, setup_s, peak_mb, traced)
    s["host_steal_pct"] = steal
    if not traced and s["pass_s"]:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", f"{name}-s{seed}-c{cpus}.json"), "w") as f:
            json.dump({"pass_s": s["pass_s"]}, f)
    return s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--workload", choices=sorted(WORKLOADS), default="kg_build")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling", action="store_true", help="extract_bulk at cpus=1 and cpus=nproc")
    args = ap.parse_args(argv)
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "pytorch_ie_spark")):
        sys.stderr.write(f"perfbench: package pytorch_ie_spark not found under {ROOT}\n")
        return 2
    if args.scaling:
        return scaling(args)
    traced = bool(args.trace)
    s = run_one(args.workload, args.seed, NPROC, args.seconds, traced, started + DEADLINE_S)
    if s is None:
        return 1
    metrics = report(args.workload, args.seed, NPROC, s, traced)
    print(json.dumps({
        "correct": s["failed"] == 0 and s["n_measured"] > 0,
        "attempted": s["attempted"],
        "failed": s["failed"],
        "metrics": metrics,
    }))
    return 0


def scaling(args) -> int:
    """BASELINE's N -> 4N scaling gate on this host: local[1] -> local[nproc]."""
    n = NPROC
    res = {}
    for cpus in (1, n):
        s = run_one("extract_bulk", args.seed, cpus, args.seconds, False, time.time() + 600)
        if s is None:
            return 1
        report("extract_bulk", args.seed, cpus, s, False)
        res[cpus] = s
    eff = res[n]["docs_per_s"] / res[1]["docs_per_s"] / n
    print(f"{'scaling_eff':<28} {fmt(eff):>14} ratio (docs_per_s@{n} / docs_per_s@1 / {n})")
    print(json.dumps({
        "correct": all(r["failed"] == 0 for r in res.values()),
        "attempted": sum(r["attempted"] for r in res.values()),
        "failed": sum(r["failed"] for r in res.values()),
        "metrics": {
            "scaling_eff": {"value": eff, "unit": "ratio"},
            "docs_per_s_1": {"value": res[1]["docs_per_s"], "unit": "1/s"},
            f"docs_per_s_{n}": {"value": res[n]["docs_per_s"], "unit": "1/s"},
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
