"""Event-store and dedup benchmark: one workload per process.

    python3 perfbench/run.py --workload point_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all        # every workload, one process each

Run from the repository root. The benchmark process is the Spark driver
at ``local[<cores>]`` with ``SPARK_GRAFT_CPUS`` set to the core count;
one client thread issues every call. The run generates its inputs from
the seed, sets up (JVM start, generation, store or index build, untimed
warm-up), then repeats the workload's cycle until ``--seconds`` have
passed (at least once), checks the outputs and prints the metrics. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``;
per-layer metrics with ``--trace 1``, where the window runs untraced,
traced and untraced again, and the span file is written to
``.bench_out/``). Temporary stores live under ``.bench_tmp/`` and are
deleted at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOAD_NAMES = ("ingest_read", "replay_dedup")
DRIVER_HEAP = "2g"

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("cycle_s", "s", "lower"),
    ("call_p50_ms", "ms", "lower"),
    ("stored_bytes_per_user_byte", "ratio", "lower"),
]


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _fail(msg: str) -> int:
    print(msg, file=sys.stderr)
    return 2


def run_all(args) -> int:
    """Every workload in its own process (fresh JVM); one combined line."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            return _fail(f"workload {name} exited with {proc.returncode}")
        res = json.loads(lines[-1])
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            out["metrics"][f"{name}.{k}"] = v
    print(json.dumps(out))
    return 0


def _spark(tmp: str):
    from inception_eventstore_spark.session import get_spark

    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark("perfbench", extra_configs={
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _measure(wl, seconds: float) -> tuple[float, list[float]]:
    """Repeat the cycle while another one still fits in ``seconds`` (at
    least once). Returns the wall time and, per cycle, the hypervisor's
    steal time as a share of the VM's CPU capacity: other guests slowing
    this one down, which the benchmark can report but not prevent."""
    from spans import steal_s

    cores, steal = _cores(), []
    t0 = time.perf_counter()
    while True:
        t, st = time.perf_counter(), steal_s()
        with wl.rec.span(f"{wl.name}.cycle", timed=False):
            wl.cycle()
        now = time.perf_counter()
        steal.append((steal_s() - st) / ((now - t) * cores))
        if now - t0 + (now - t) > seconds:
            return now - t0, steal


def _e2e(wl, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "cycle_s": wl.cycle_s(),
        "call_p50_ms": wl.call_p50_ms(),
        "stored_bytes_per_user_byte": wl.stored_bytes_per_user_byte(),
    }


def _per_layer(wl, setup: dict, untraced: dict, traced: dict, wall: float,
               cores: int) -> dict[str, float]:
    from layers import layer_values

    rec = wl.rec
    totals = rec.layer_totals()
    out = layer_values(totals)
    calls = [s for s in rec.spans if s["name"] != f"{wl.name}.cycle"]
    cycles = [s for s in rec.spans if s["name"] == f"{wl.name}.cycle"]
    executor = sum(s["executor_run_s"] for s in calls)
    wall_calls = sum(s["wall_s"] for s in calls)
    out["spark.executor_busy_share"] = executor / (wall * cores)
    out["spark.driver_share"] = sum(s["driver_s"] for s in calls) / wall_calls
    out["spark.gc_share"] = sum(s["gc_s"] for s in calls) / executor if executor else 0.0
    before, after = getattr(wl, "maintenance_stats", ({}, {}))
    for key in ("events_files", "fragmented_buckets"):
        out[f"maintenance.store.{key}_before"] = before.get(key, 0)
        out[f"maintenance.store.{key}_after"] = after.get(key, 0)
    for k, v in setup.items():
        out[f"setup.{k}"] = v
    self_times = rec.self_times()
    out["bench.cycle.self_s"] = self_times.get(f"{wl.name}.cycle", 0.0) / max(1, len(cycles))
    out["trace.overhead_cycle_s"] = traced["cycle_s"] - untraced["cycle_s"]
    out["trace.overhead_call_p50_ms"] = traced["call_p50_ms"] - untraced["call_p50_ms"]
    return out


def run_one(args) -> int:
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    sys.path.insert(0, ROOT)
    try:
        import inception_eventstore_spark  # noqa: F401
    except ImportError:
        return _fail(f"the library package is not under {ROOT}; run from the repository root")
    from spans import Recorder
    from workloads import WORKLOADS

    tmp = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    spark = None
    try:
        spark = _spark(tmp)
        setup = {"jvm_s": time.perf_counter() - T_START}
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        rec = Recorder(spark, run_id, traced=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, rec, args.seed, tmp)
        for phase in ("generate", "build", "warmup"):
            t = time.perf_counter()
            rec.active = rec.traced and phase == "build"
            getattr(wl, phase)()
            setup[f"{phase}_s"] = time.perf_counter() - t
        rec.active = False
        setup_s = sum(setup.values())

        failures = calls_done = 0
        untraced = traced = None
        steal: list[float] = []
        try:
            _, steal = _measure(wl, args.seconds)
            untraced = _e2e(wl, setup_s)
            if args.trace:
                # untraced, traced, untraced again: the JIT keeps warming
                # up, so the overhead is taken against both neighbours
                calls_done = sum(len(v) for v in rec.calls.values())
                rec.calls.clear()
                rec.active = True
                wall, steal = _measure(wl, args.seconds)
                rec.active = False
                traced = _e2e(wl, setup_s)
                calls_done += sum(len(v) for v in rec.calls.values())
                rec.calls.clear()
                _measure(wl, args.seconds)
                after = _e2e(wl, setup_s)
                baseline = {k: (untraced[k] + after[k]) / 2 for k in untraced}
            wl.verify()
        except Exception:  # a failed library call is a failed operation
            traceback.print_exc()
            if args.trace:
                return 1
            failures = 1
        # raises, and so prints no result, unless every call kind completed
        metrics = untraced or _e2e(wl, setup_s)

        attempted = calls_done + sum(len(v) for v in rec.calls.values()) + len(wl.checks)
        failed = failures + sum(1 for ok in wl.checks.values() if not ok)
        print(f"# workload {wl.name}: seed {args.seed}, {wl.cycles} cycles, "
              f"cores {_cores()}, heap {DRIVER_HEAP}")
        print("# host steal time per measured cycle, share of CPU capacity: "
              + ", ".join(f"{x:.3f}" for x in steal))
        for name, ok in sorted(wl.checks.items()):
            print(f"# check {name}: {'pass' if ok else 'FAIL'}")
        for name, value, unit, better in wl.named():
            print(f"# {name} = {value:.6g} {unit} ({better} is better)")
        for layer, calls in sorted(rec.calls.items()):
            print(f"# call {layer}: {len(calls)} timed, median {wl.median(layer) * 1000:.1f} ms")
        for k, v in setup.items():
            print(f"# setup.{k} = {v:.3f} s")
        units = {n: (u, b) for n, u, b in END_TO_END}
        for k, v in metrics.items():
            print(f"# {k} = {v:.6g} {units[k][0]} ({units[k][1]} is better)")
        if args.trace:
            from layers import per_layer_spec

            values = _per_layer(wl, setup, baseline, traced, wall, _cores())
            spans = os.path.join(ROOT, ".bench_out", f"spans-{run_id}.jsonl")
            rec.write_spans(spans)
            print(f"# spans: {len(rec.spans)} written to {os.path.relpath(spans, ROOT)}")
            print(f"# trace overhead: cycle_s {traced['cycle_s']:.3f} traced vs "
                  f"{baseline['cycle_s']:.3f} untraced (mean of the windows before and after)")
            for layer, s in sorted(rec.self_times().items()):
                print(f"# self time {layer} = {s:.3f} s")
            out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in per_layer_spec()}
        else:
            out = {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()}
        bad = [k for k, v in out.items() if not math.isfinite(v["value"])]
        if bad:
            return _fail(f"non-finite metrics: {bad}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="all", choices=("all",) + WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    raise SystemExit(main())
