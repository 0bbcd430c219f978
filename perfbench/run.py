"""beats_spark benchmark: one seeded workload, measured end to end or traced.

Usage (from the repository root):

    python3 perfbench/run.py --workload stream_microbatch --seed 1 --seconds 30 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
makes the separate traced run that gives the per-layer split. The last line
of standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (name → value and unit). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
HEAP = "2g"
GENERATE_REPEATS = 3


class RssSampler(threading.Thread):
    """Peak resident memory of the driver process tree, sampled from /proc
    every 200 ms: this process, its JVM and the Python workers below them.
    Other descendants are left out: a helper the JVM spawns to run a shell
    command shares the JVM's pages until it execs, and would count them
    twice."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[tuple[int, str]]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue
                comm = stat[stat.index("(") + 1:stat.rindex(")")]
                ppid = int(stat[stat.rindex(")") + 2:].split()[1])
                children.setdefault(ppid, []).append((int(d), comm))
        total, frontier = 0, [(os.getpid(), "")]
        while frontier:
            pid, comm = frontier.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            frontier.extend((c, cc) for c, cc in children.get(pid, [])
                            if cc.startswith("python")
                            or (pid == os.getpid() and cc == "java"))
        return total

    def run(self):
        while not self._stop_evt.wait(0.2):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


def start_spark(work: str, cores: int):
    from beats_spark.session import get_spark

    spark = get_spark(
        f"perfbench_local{cores}", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # heap pinned (-Xms = -Xmx, pre-touched): no heap growth during
            # the measurement, so GC sizing adds no run-to-run spread
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.local.dir": f"{work}/local",
            "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Session:
    """The one SparkSession (and JVM) this run has open at a time."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, cores: int):
        self.spark = start_spark(self.work, cores)
        return self.spark

    def restart(self, cores: int):
        self.stop()
        return self.start(cores)

    def stop(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None


def tail_percentile(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 100 samples that percentile lies under p90, or
    does not exist, so the tail is the maximum (p100): a tail that does not
    change its meaning when a faster program fits more batches in a run."""
    xs = sorted(xs)
    n = len(xs)
    if n >= 100:
        return xs[n - 11], 100.0 * (n - 10) / n
    return xs[-1], 100.0


def measure(wl, seconds: float):
    """Repeat the workload's unit until ``seconds`` have passed."""
    units = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        units.append(wl.unit())
    return units


def end_to_end(units, setup_s: float, peak_mb: float) -> dict[str, tuple[float, str]]:
    ok = [u for u in units if u.ok]
    lat = [b.latency_s for u in units for b in u.batches if b.ok]
    turns = sum(b.turns for u in ok for b in u.batches)
    sink_bytes = sum(b.sink_bytes for u in ok for b in u.batches)
    tail, pct = tail_percentile(lat) if lat else (0.0, 0.0)
    print(f"# batch latency samples: {len(lat)}; tail is p{pct:.1f}: "
          + " ".join(f"{x:.2f}" for x in lat))
    return {
        "setup_s": (setup_s, "s"),
        "turns_per_s": (statistics.median(u.turns_per_s for u in ok) if ok else 0.0,
                        "1/s"),
        "batch_latency_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "batch_latency_tail_s": (tail, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "sink_bytes_per_turn": (sink_bytes / turns if turns else 0.0, "B"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's own source tree
    sys.path.insert(0, ROOT)
    try:
        import beats_spark
    except ImportError as e:
        print(f"perfbench: cannot import beats_spark from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(beats_spark.__file__))) != ROOT:
        print(f"perfbench: beats_spark resolves to {beats_spark.__file__}, "
              f"not to the checkout {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(workloads.WORKLOADS)})", file=sys.stderr)
        return 2

    # every file the run writes stays inside the checkout
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    mem = RssSampler()
    mem.start()
    session = Session(work)
    try:
        t0 = time.perf_counter()
        spark = session.start(CORES)
        session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
        wl.register_lookups()
        repeats = 1 if args.trace else GENERATE_REPEATS
        gen_s = statistics.median(wl.generate() for _ in range(repeats))
        problems = wl.truth()
        t0 = time.perf_counter()
        warm = wl.warm_up()
        warm_s = time.perf_counter() - t0
        print(f"# setup: session {session_s:.2f} s, generate {gen_s:.2f} s "
              f"(median of {repeats}), warm-up {warm_s:.2f} s")
        if args.trace:
            import layers
            spans = os.path.join(os.path.dirname(work),
                                 f"spans-{args.workload}-{args.seed}.jsonl")
            metrics, units = layers.traced(spark, wl, session_s, CORES,
                                           session.restart, spans)
            print(f"# spans written to {os.path.relpath(spans, ROOT)}")
        else:
            units = measure(wl, args.seconds)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        session.stop()
        peak_mb = mem.stop()
        shutil.rmtree(work, ignore_errors=True)

    if not args.trace:
        metrics = end_to_end(units, session_s + gen_s + warm_s, peak_mb)
    units = warm + units
    attempted = sum(u.attempted for u in units)
    failed = sum(u.failed for u in units) + (1 if problems else 0)
    for msg in problems + [m for u in units for m in u.messages()]:
        print(f"# INCORRECT: {msg}")
    for name, (value, unit) in metrics.items():
        print(f"{name:48s} {value:14.6f} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
