#!/usr/bin/env python3
"""Layered benchmark of sinter_spark on the host it runs on.

One client (this process) issues one workload's operations back to back
on ``local[<cores>]`` for ``--seconds`` and checks every output. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are per-layer numbers from a
traced run (see README.md in this directory).

    python3 perfbench/run.py --workload suite_raw --seed 1 --seconds 15 --trace 0

Inputs and run records go under ``.perfbench_work/`` at the repository
root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

PKG = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PKG)

#: untimed ops before the measured window (see main)
WARMUP_OPS = 2

#: per-layer metrics of a traced run: (name, unit, better)
_SPARK_LAYERS = (
    "binding", "images.kernel", "operators.uniqueness", "operators.referential",
    "operators.drift", "plans", "checkpoint", "operators.sketch", "catalog",
    "operators.dedup", "operators.winnow", "operators.decontam",
)
_SHUFFLING = (
    "images.kernel", "operators.uniqueness", "operators.referential", "operators.drift",
    "checkpoint", "operators.sketch", "operators.dedup", "operators.winnow", "operators.decontam",
)
PER_LAYER = (
    [("session.start_s", "s", "lower")]
    + [(f"{layer}.wall_s", "s", "lower") for layer in _SPARK_LAYERS + ("images.codecs",)]
    + [(f"{layer}.cpu_s", "s", "lower") for layer in _SPARK_LAYERS]
    + [(f"{layer}.shuffle_write_mb", "MiB", "lower") for layer in _SHUFFLING]
    + [(f"{layer}.task_skew", "ratio", "lower") for layer in _SPARK_LAYERS]
    + [
        ("binding.violations", "count", "lower"),
        ("images.kernel.rows_per_s", "rows/s", "higher"),
        ("images.kernel.violations", "count", "lower"),
    ]
    + [(f"images.codecs.img_per_s.{f}", "img/s", "higher") for f in ("raw", "png", "qjpg", "jpeg", "pjpeg", "gif")]
    + [
        ("operators.drift.violations", "count", "lower"),
        ("plans.widen_fired", "count", "lower"),
        ("checkpoint.resume_s", "s", "lower"),
        ("checkpoint.jobs", "count", "lower"),
        ("checkpoint.bytes_written_mb", "MiB", "lower"),
        ("checkpoint.overhead_ratio", "ratio", "lower"),
        ("catalog.read_s", "s", "lower"),
        ("operators.dedup.minhash.pairs", "count", "lower"),
        ("operators.winnow.pairs", "count", "lower"),
        ("trace.op_s", "s", "lower"),
        ("trace.op_untraced_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.layers_s", "s", "lower"),
        ("trace.residual_s", "s", "lower"),
    ]
)
#: end-to-end metrics of the JSON result. peak_rss_mb is printed and
#: recorded but left out: the JVM's heap growth sets it per run, and it
#: spreads ±20% from run to run on the reference host
END_TO_END = (("setup_s", "s"), ("rows_per_s", "rows/s"), ("op_s_p50", "s"), ("cpu_s_per_krow", "s/krow"))


def _parse(argv):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    # all four run; BENCHMARK.json lists the two it measures
    ap.add_argument("--workload", required=True, choices=tuple(workloads.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the measured window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None, help="override the workload's input size")
    return ap.parse_args(argv)


class _Client:
    """Issues operations, times them, and applies the correctness gate."""

    def __init__(self, wl, tree):
        self.wl, self.tree = wl, tree
        self.walls: list[float] = []
        self.cpu: list[float] = []
        self.rss: list[float] = []
        self.attempted = 0
        self.errors: list[str] = []

    def run(self, timed: bool = True, wrap=None, op=None):
        """One op (``op`` replaces the workload's); returns its wall
        seconds. ``wrap`` is a context manager factory put around the
        op (a trace span)."""
        op = op or self.wl.op
        self.attempted += 1
        self.tree.reset_peak()
        cpu0, t0 = self.tree.cpu_s(), time.perf_counter()
        try:
            if wrap is None:
                out = op()
            else:
                with wrap():
                    out = op()
            wall, cpu = time.perf_counter() - t0, self.tree.cpu_s() - cpu0
            err = self.wl.gate(out)
        except Exception as e:  # noqa: BLE001 — a failed op is a counted error
            wall, cpu = time.perf_counter() - t0, self.tree.cpu_s() - cpu0
            err = f"{type(e).__name__}: {str(e)[:300]}"
        print(f"# op {self.attempted}: {wall:.3f} s, {cpu:.2f} cpu s{' FAILED: ' + err if err else ''}",
              file=sys.stderr)
        if err:
            self.errors.append(err)
        elif timed:
            self.walls.append(wall)
            self.cpu.append(cpu)
            self.rss.append(max(self.tree.peak_rss_mib, self.tree.rss_mib()))
        return wall

    @property
    def failed(self) -> int:
        return len(self.errors)


def _stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and the Python workers
    it forked to exit."""
    from pyspark import SparkContext

    import host

    gateway = SparkContext._gateway
    proc = gateway.proc if gateway is not None else None
    started = set(host.ProcessTree.stats(proc.pid)) if proc is not None else set()
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    _reap(started)


def _reap(pids: set[int], grace: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL what is left after ``grace``
    seconds. Python workers are the JVM's grandchildren and outlive it
    briefly as orphans, so they are polled by pid, not waited on."""
    import signal

    deadline = time.monotonic() + grace
    while pids:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}") and _alive(p)}
        if not pids:
            return
        if time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """False for a zombie, which has exited but awaits its parent."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _span_metrics(tracer, sweep_id: int) -> dict[str, float]:
    out = {}
    for s in tracer.spans:
        if s["parent"] != sweep_id:
            continue
        name = s["name"]
        for k in ("wall_s", "cpu_s", "shuffle_write_mb", "task_skew", "jobs"):
            out[f"{name}.{k}"] = s[k]
        for k, v in s["counts"].items():
            out[f"{name}.{k}"] = v
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(1, ROOT)
    try:
        import pyspark  # noqa: F401
        import sinter_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import host
    import inputs as inp
    import workloads

    name = args.workload
    n = args.rows or workloads.SIZES[name]
    work = os.path.join(inp.WORK, f"run-{os.getpid()}")
    conf = host.session_env(ROOT, work)
    spark = None
    try:
        ins = workloads.inputs(name, args.seed, n, trace=bool(args.trace))
        print(f"# inputs for {name} seed={args.seed}: {ins['gen_s']:.2f} s generating (0 = cached)")
        conditions = host.Conditions()
        record: dict = {"workload": name, "seed": args.seed, "seconds": args.seconds,
                        "trace": args.trace, "rows": n, "gen_s": ins["gen_s"]}
        with host.ProcessTree() as tree:
            from sinter_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(cores=host.cores(), app_name=f"perfbench-{name}", extra_conf=conf)
            session_s = time.perf_counter() - t0
            wl = workloads.prepare(name, spark, ins, work)
            client = _Client(wl, tree)
            # warm-up: python workers, page cache, and the JVM's JIT, which
            # speeds the op up ~25% over its first three runs. The first
            # also checks values where the per-op gate checks only counts
            client.run(timed=False, op=wl.checked_op)
            for _ in range(WARMUP_OPS - 1):
                client.run(timed=False)
            setup_s = time.perf_counter() - t0
            if args.trace:
                metrics, record["spans"] = _traced(spark, wl, client, args.seconds, session_s)
            else:
                deadline = time.perf_counter() + args.seconds
                while True:
                    client.run()
                    if time.perf_counter() >= deadline:
                        break
                metrics = None
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    record["conditions"] = conditions.record()
    record["attempted"], record["failed"], record["errors"] = client.attempted, client.failed, client.errors
    record["op_walls_s"], record["op_cpu_s"], record["op_peak_rss_mib"] = client.walls, client.cpu, client.rss
    walls = client.walls or [float("nan")]
    if metrics is None:
        op_s = statistics.median(walls)
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": wl.rows / op_s,
            "op_s_p50": op_s,
            "cpu_s_per_krow": statistics.median(client.cpu or [float("nan")]) / (wl.rows / 1000),
            "peak_rss_mb": statistics.median(client.rss or [float("nan")]),
        }
        units = dict(END_TO_END, peak_rss_mb="MiB")
        samples = {"setup_s": 1}
        for k, v in metrics.items():
            print(f"{k:16s} {v:14.4f} {units[k]:10s} ({samples.get(k, len(client.walls))} samples)")
        print(f"{'error_rate':16s} {client.failed / client.attempted:14.4f} {'ratio':10s} "
              f"({client.failed} of {client.attempted} ops)")
    else:
        units = {m: u for m, u, _ in PER_LAYER}
        for k in sorted(metrics):
            print(f"{k:40s} {metrics[k]:14.4f} {units.get(k, '')}")
    c = record["conditions"]
    print(f"# conditions: steal {c['steal_cores']:.2f} cores, load1 {c['load1_start']:.1f} -> "
          f"{c['load1_end']:.1f}, {c['cores']} cores, driver heap {c['driver_memory']}")
    record["metrics"] = metrics
    os.makedirs(os.path.join(inp.WORK, "runs"), exist_ok=True)
    rec_path = os.path.join(inp.WORK, "runs", f"{name}-s{args.seed}-t{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"# run record: {os.path.relpath(rec_path, ROOT)}")

    if args.trace:
        keep = {m for m, _, _ in PER_LAYER}
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items() if k in keep}
    else:
        units = dict(END_TO_END)
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items() if k in units}
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": out,
    }))
    return 0


def _traced(spark, wl, client, seconds: float, session_s: float) -> tuple[dict, list[dict]]:
    """Untraced and traced ops in alternation for ``seconds`` (two of
    each at least), then one isolated sweep over every layer."""
    import spans
    import workloads

    tracer = spans.Tracer(spark)
    untraced, traced = [], []
    deadline = time.perf_counter() + seconds
    op_id = 0
    while len(traced) < 2 or time.perf_counter() < deadline:
        untraced.append(client.run())
        op_id += 1
        traced.append(client.run(wrap=lambda: tracer.span("op", op_id)))
    op_id += 1
    with tracer.span("layers", op_id) as sweep:
        workloads.sweep(spark, tracer, op_id, wl.tables)
    metrics = _span_metrics(tracer, sweep["id"])
    layers_s = sum(metrics[f"{layer}.wall_s"] for layer in workloads.COMPOSES[wl.name])
    op_s = statistics.median(traced)
    metrics.update({
        "session.start_s": session_s,
        "trace.op_s": op_s,
        "trace.op_untraced_s": statistics.median(untraced),
        "trace.overhead_s": op_s - statistics.median(untraced),
        "trace.layers_s": layers_s,
        "trace.residual_s": op_s - layers_s,
    })
    for s in tracer.spans:
        s["self_s"] = tracer.self_time(s)
    return metrics, tracer.spans


if __name__ == "__main__":
    sys.exit(main())
