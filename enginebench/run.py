"""Engine benchmark: one command, three workloads, oracle-checked answers.

    python3 enginebench/run.py --workload search --seed 3 --seconds 10 --trace 0

Runs from the repository root against the public ``mee_spark`` API on
``local[min(nproc, 4)]``. Prints a human-readable table, then, as the last
line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: every end-to-end metric of
BENCHMARK.json with ``--trace 0``, every per-layer metric with
``--trace 1``. All files go to a scratch directory under the checkout that
is removed on exit. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

SPEC_PATH = ROOT / "BENCHMARK.json"


class MemorySampler(threading.Thread):
    """Peak memory of this process and all its descendants (driver, JVM,
    Python workers), sampled from /proc. Each process counts its
    proportional set size: Python workers are forked from one daemon and
    share pages with it, which plain RSS would count once per worker."""

    def __init__(self, period_s: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._halt = threading.Event()

    @staticmethod
    def tree_pids() -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def pss_bytes(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._halt.is_set():
            total = sum(self.pss_bytes(p) for p in self.tree_pids())
            self.peak_bytes = max(self.peak_bytes, total)
            self._halt.wait(self.period_s)

    def stop(self) -> None:
        self._halt.set()
        self.join()


class Context:
    def __init__(self, seed: int, seconds: int, work: str, cores: int, tracer) -> None:
        self.seed, self.seconds, self.work, self.cores = seed, seconds, work, cores
        self.tracer = tracer
        self.spark = None


def start_spark(ctx: Context, event_dir: str | None):
    from pyspark.sql import SparkSession

    from mee_spark import recommended_conf

    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # workers are started by the JVM and inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "spark")
    b = (SparkSession.builder.master(f"local[{ctx.cores}]").appName("enginebench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "1g")
         .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
         .config("spark.sql.warehouse.dir", os.path.join(ctx.work, "warehouse"))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true"))
    for k, v in recommended_conf(ctx.cores).items():
        b = b.config(k, v)
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_window(ctx: Context, wl) -> tuple[float, float]:
    """Repeat cycles until ``ctx.seconds`` have elapsed (at least one);
    returns the window's (start_ms, end_ms) wall-clock bounds."""
    start_ms = time.time() * 1000.0
    t0 = time.perf_counter()
    while not wl.cycles or time.perf_counter() - t0 < ctx.seconds:
        c0 = time.perf_counter()
        wl.cycle()
        wl.cycles.append(time.perf_counter() - c0)
    return start_ms, time.time() * 1000.0


def end_to_end(wl, setup_s: float, peak_mem: int) -> dict[str, tuple[float, str]]:
    ok = (wl.attempted - wl.failed) / wl.attempted
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (stats.median(wl.samples[wl.op_kind]), "s"),
        "cycle_s": (stats.median(wl.cycles), "s"),
        "peak_pss_mb": (peak_mem / 2**20, "MB"),
        "success_rate": (ok, "ratio"),
        "index_bytes_per_text_byte": (wl.index_bytes_per_text_byte(), "B/B"),
    }


def print_table(wl, e2e: dict, layers: dict | None) -> None:
    med = lambda kind: stats.median(wl.samples[kind])  # noqa: E731
    print(f"workload {wl.name}: {len(wl.cycles)} cycle(s), {wl.attempted} operation(s), "
          f"{wl.failed} failed, error_rate {wl.failed / wl.attempted:.4g}")
    for kind, vals in wl.samples.items():
        tail = stats.tail_percentile(vals)
        tail_txt = (f"p{tail[0]:.0f}={tail[1]:.3f} s" if tail
                    else "tail n/a (needs > 10 samples)")
        print(f"  step {kind:<16} n={len(vals):<3} p50={med(kind):.3f} s  {tail_txt}  "
              f"[{' '.join(f'{v:.3f}' for v in vals)}]")
    for name, (value, unit) in {**e2e, **wl.table(med)}.items():
        print(f"  {name:<28} {value:.6g} {unit}")
    for name, (value, unit) in (layers or {}).items():
        print(f"  {name:<36} {value:.6g} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not SPEC_PATH.exists():
        print(f"{SPEC_PATH} not found", file=sys.stderr)
        return 2
    spec = json.loads(SPEC_PATH.read_text())
    bad = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]
           if not (stats.valid_name(m["name"]) and stats.valid_unit(m["unit"]))]
    if bad:
        print(f"invalid metric names or units in BENCHMARK.json: {bad}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    try:
        import mee_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads
    from spans import LayerTable, Tracer, parse_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = min(len(os.sched_getaffinity(0)), 4)
    scratch = ROOT / ".enginebench_work"
    work = str(scratch / f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer()
    tracer.enabled = bool(args.trace)
    ctx = Context(args.seed, args.seconds, work, cores, tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)
    event_dir = os.path.join(work, "events") if args.trace else None
    mem = MemorySampler()
    spark = None
    try:
        t_in = time.perf_counter()
        wl.make_inputs()
        mem.start()
        t0 = time.perf_counter()
        phases = {"inputs": t0 - t_in}
        spark = ctx.spark = start_spark(ctx, event_dir)
        if args.trace:
            tracer.spark = spark
            tracer.install()
        wl.setup()
        setup_s = time.perf_counter() - t0
        if args.trace:
            # untraced window first, then the same loop traced: the
            # difference is the tracing overhead
            tracer.enabled = False
            run_window(ctx, wl)
            plain = stats.median(wl.cycles)
            wl.cycles.clear()
            tracer.enabled = True
        t1 = time.perf_counter()
        win = run_window(ctx, wl)
        if args.trace:
            wl.trace_extras()
        t2 = time.perf_counter()
        wl.check()
        t3 = time.perf_counter()
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
        spark = None
        mem.stop()
        phases.update({"set-up": t1 - t0, "window": t2 - t1, "checks": t3 - t2,
                       "stop": time.perf_counter() - t3})
        e2e = end_to_end(wl, setup_s, mem.peak_bytes)
        layers = None
        if args.trace:
            tracer.uninstall()
            with open(os.path.join(event_dir, app_id)) as f:
                jobs, stages_ = parse_event_log(f)
            table = LayerTable(jobs, stages_, tracer.spans, cores)
            layers = wl.replay(table.metrics())
            layers["trace.overhead"] = stats.median(wl.cycles) / plain - 1.0
            layers["trace.job_coverage"] = table.job_coverage(*win)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            layers = {k: (float(layers.get(k, 0.0)), units[k]) for k in units}
        print("phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
        print_table(wl, e2e, layers)
        chosen = layers if args.trace else e2e
        names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {n: {"value": chosen[n][0], "unit": chosen[n][1]} for n in names},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        if mem.is_alive():
            mem.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            scratch.rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
