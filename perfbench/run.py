"""Benchmark of the UIE -> knowledge-graph engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Untraced runs (``--trace 0``) print the
end-to-end metrics; traced runs (``--trace 1``) print the per-layer
metrics. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
name every metric with its unit, the host stamp and the correctness
verdict. ``--smoke`` shrinks every input for the self-test.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def metric_units(trace: bool) -> dict:
    """name -> unit of the metrics a run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    return {m["name"]: m["unit"] for m in spec}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Bench:
    """State of one run: the Spark session, the correctness tally and
    the untraced pass timings."""

    def __init__(self, args, work: str):
        self.root = ROOT
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.cores = CORES
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.walls: list = []  # (wall_s, rows) of passing untraced passes

    def start(self, cores: int = CORES) -> float:
        from uie_pytorch_spark.session import get_spark

        java = (
            f"-Duser.timezone=UTC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={self.work}/tmp"
        )
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.driver.extraJavaOptions": java,
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
        }
        if self.trace:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = f"file://{self.work}/eventlog"
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        t0 = time.monotonic()
        self.spark = get_spark(
            app_name=f"perfbench-{cores}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = cores
        return time.monotonic() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def check(self, what: str, got, want) -> bool:
        self.attempted += 1
        if got == want:
            return True
        self.failed += 1
        log(f"MISMATCH {what}: got {got!r}, want {want!r}")
        return False

    def release(self) -> int:
        """Run isolation between passes; returns the number of RDDs that
        were still persisted."""
        from tracing import release_caches

        return release_caches(self.spark)


def shut_down() -> None:
    """End every process this run started. ``SparkSession.stop`` leaves
    pyspark's gateway JVM running until the interpreter exits, and the
    JVM and its Python workers may outlive the interpreter for a while;
    so close the gateway's stdin (the JVM exits when it reads EOF) and
    wait for the whole process tree to end."""
    import probes

    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if gateway is not None:
            try:
                gateway.close()
            except Exception:
                pass
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
    probes.stop_tree(os.getpid())


def measure(b: Bench, wl, seconds: float) -> None:
    """Closed loop of untraced passes for ``seconds``, and at least one.
    A pass whose output differs from its reference, or that raises,
    counts as failed and contributes no timing; after three passes
    without a good one the loop gives up."""
    deadline = time.monotonic() + seconds
    tries = 0
    while (not b.walls and tries < 3) or time.monotonic() < deadline:
        tries += 1
        try:
            wall, rows, d = wl.iterate()
        except Exception:
            b.attempted += 1
            b.failed += 1
            log(traceback.format_exc())
            continue
        finally:
            b.release()
        if wl.check_pass("pass output", d):
            b.walls.append((wall, rows))


def set_up(b: Bench, wl) -> dict:
    """The session set-up: start Spark, then the workload's first warm
    extraction or query, checked against its reference."""
    t0 = time.monotonic()
    start = b.start()
    w0 = time.monotonic()
    wl.warm()
    t1 = time.monotonic()
    return {"session.start_s": start, "engine.warmup_s": t1 - w0, "setup_s": t1 - t0}


def run(args, work: str) -> tuple:
    import probes
    import tracing
    import workloads

    b = Bench(args, work)
    wl = workloads.WORKLOADS[args.workload](b)
    wl.prepare()
    sampler = probes.MemSampler().start()
    cpu0 = probes.cpu_jiffies()
    try:
        setup = set_up(b, wl)
        measure(b, wl, args.seconds)
        wall = statistics.median(w for w, _ in b.walls)
        if b.trace:
            tr = tracing.Tracer(b.spark)
            metrics = wl.traced(tr)
            metrics["engine.jvm_storage_peak_mb"] = tr.storage_peak_mb
            b.stop()  # flushes the event log
            metrics.update(tracing.event_log_stats(f"{work}/eventlog"))
            metrics["session.start_s"] = setup["session.start_s"]
            metrics["engine.warmup_s"] = setup["engine.warmup_s"]
            metrics["trace.overhead_s"] = metrics.pop("trace.wall_s") - wall
            metrics["trace.closure_ratio"] = metrics.pop("trace.parts_s") / wall
        else:
            metrics = {
                "setup_s": setup["setup_s"],
                "wall_s": wall,
                "rows_per_s": statistics.median(r / w for w, r in b.walls),
            }
    finally:
        b.stop()
        peak = sampler.stop()
        weather = probes.window_pct(cpu0, probes.cpu_jiffies())
    if not b.trace:
        metrics["py_peak_pss_mb"] = peak
    stamp = {**probes.host_stamp(), **weather,
             "pass_walls_s": [round(w, 3) for w, _ in b.walls],
             "setup_s": round(setup["setup_s"], 3)}
    return b, metrics, stamp


def record(args, work: str) -> int:
    """Write the reference digests of every input variant of the
    workload into digests.json (smoke inputs are recorded separately)."""
    import workloads

    b = Bench(args, work)
    wl = workloads.WORKLOADS[args.workload](b)
    got = {}
    try:
        b.start()
        # the self-test runs smoke mode on seed 0 only
        for v in range(1 if args.smoke else wl.variants):
            b.seed = v
            wl.prepare()
            got[str(v)] = wl.record()
            b.release()
            log(f"recorded {args.workload} variant {v}: {got[str(v)]}")
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
    path = os.path.join(HERE, "digests.json")
    table = json.load(open(path)) if os.path.exists(path) else {}
    table[workloads.table_key(args.workload, args.smoke)] = got
    with open(path, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True, ensure_ascii=False)
        f.write("\n")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs, for the self-test")
    ap.add_argument("--record", action="store_true",
                    help="recompute the reference digests in digests.json")
    args = ap.parse_args(argv)
    # a terminated run still leaves through shut_down below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isfile(os.path.join(ROOT, "uie_pytorch_spark", "engine.py")):
        log(f"no uie_pytorch_spark package under {ROOT}: run from a checkout")
        return 2
    sys.path[:0] = [ROOT]
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    try:
        if args.record:
            return record(args, work)
        b, metrics, stamp = run(args, work)
    finally:
        shut_down()
        shutil.rmtree(work, ignore_errors=True)

    units = metric_units(b.trace)
    if b.trace:
        for name in set(units) - set(metrics):
            metrics[name] = 0  # a layer this workload does not exercise
    extra = sorted(set(metrics) - set(units))
    if extra:
        log(f"unlisted metrics dropped: {extra}")
    out = {n: {"value": metrics[n], "unit": u} for n, u in units.items()}
    print(f"# host {json.dumps(stamp, sort_keys=True)}")
    for n, m in out.items():
        print(f"# {args.workload} {n} = {m['value']:.6g} {m['unit']}")
    frac = b.failed / max(b.attempted, 1)
    print(f"# {args.workload} ops_failed_frac = {frac:.4g} ratio")
    print(f"# {args.workload} correctness: {'PASS' if not b.failed else 'FAIL'} "
          f"({b.attempted - b.failed}/{b.attempted} checked outputs matched)")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
