"""Pipeline benchmark: one workload, one seed, one JSON result line.

    python3 pipebench/run.py --workload events_stream --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. The program under test is the
``mycelial_spark`` package beside this directory, used as shipped:
``get_spark()`` with ``SPARK_GRAFT_CPUS`` defaulting to ``nproc``. Inputs
are generated from the seed into a scratch directory under the
repository root, which is removed on exit. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer metrics of traced runs
alternated with untraced ones. See pipebench/README.md.
"""

from __future__ import annotations

import os
import time


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (0 elsewhere)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


# the setup clock starts at process start, before any import below
_T_START = time.perf_counter() - _process_age_s()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {"setup_s": "s", "run_s": "s", "batch_ms_p50": "ms",
              "batch_ms_p90": "ms", "ok_ratio": "ratio"}
PER_LAYER = {
    "plans.compile_s": "s",
    "sources.build_s": "s", "sources.decode_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "sinks.write_s": "s", "sinks.jobs": "count",
    "streaming.add_batch_ms": "ms", "streaming.overhead_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "trace.overhead_s": "s",
    "memory.peak_rss_mb": "MB",
}


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolation percentile, q in [0, 1]."""
    s = sorted(xs)
    at = q * (len(s) - 1)
    lo = int(at)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (at - lo)


class RssSampler:
    """Peak summed resident memory of the given processes, sampled
    every 20 ms on a background thread."""

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb,
                               sum(self._rss_kb(p) for p in self.pids))
            if self._stop.wait(0.02):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session():
    """The session as shipped, up to one finished trivial action."""
    from mycelial_spark.session import get_spark
    spark = get_spark("pipebench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(spark, workload, seconds: float, trace: bool) -> dict:
    """Run ``workload`` back to back for ``seconds``, at least once. With
    tracing, runs alternate traced and untraced, starting with a traced
    one and ending with an untraced one, so each traced run is followed
    by an untraced one. Each run starts from a clean output and released
    caches, and its output is checked outside the clock."""
    from pipebench.trace import Tracer, decode_seconds
    from pipebench.workloads import release_cached

    tracer = Tracer(spark) if trace else None
    runs, traced, layers, failures = [], [], [], []
    attempted = 0
    t0 = time.perf_counter()
    while (time.perf_counter() - t0 < seconds or not runs
           or len(runs) < len(traced)):
        traced_run = trace and len(traced) == len(runs)
        attempted += 1
        workload.clean()
        release_cached(spark)
        try:
            if traced_run:
                tracer.begin_run()
                try:
                    with tracer.installed():
                        res = workload.run(spark)
                finally:
                    tracer.end_run()
                layers.append(tracer.layer_metrics(res.wall_s, res.compile_s,
                                                   res.batches))
                traced.append(res)
            else:
                res = workload.run(spark)
                runs.append(res)
            problem = workload.check(spark)
        except Exception as e:  # a run that raises is a failed run
            problem = f"{type(e).__name__}: {str(e)[:300]}"
            # no result without one good run of each kind; a program that
            # keeps raising stops the benchmark
            if not runs or (traced_run and not traced) or len(failures) >= 2:
                raise
        if problem:
            failures.append(problem)
            print(f"pipebench: {workload.name} run failed: {problem}",
                  file=sys.stderr)
    out = {"runs": runs, "traced": traced, "layers": layers,
           "attempted": attempted, "failures": failures}
    if trace:
        out["decode_s"] = decode_seconds(workload.payload_files())
    return out


def end_to_end(setup_s: float, m: dict) -> dict[str, float]:
    runs = m["runs"]
    walls = [r.wall_s for r in runs]
    # a micro-batch is the stream's unit of commit; a batch run commits
    # once, so there the run is the batch
    batch_ms = [t for r in runs for t, _ in r.batches] or \
        [w * 1000.0 for w in walls]
    attempted = m["attempted"]
    return {
        "setup_s": setup_s,
        "run_s": percentile(walls, 0.5),
        "batch_ms_p50": percentile(batch_ms, 0.5),
        "batch_ms_p90": percentile(batch_ms, 0.9),
        "ok_ratio": (attempted - len(m["failures"])) / attempted,
    }


def per_layer(m: dict, peak_kb: int) -> dict[str, float]:
    layers = m["layers"]
    out = {k: percentile([lm[k] for lm in layers], 0.5) for k in layers[0]}
    out["sources.decode_s"] = m["decode_s"]
    out["memory.peak_rss_mb"] = peak_kb / 1024.0
    # each traced run against the untraced run right after it
    out["trace.overhead_s"] = percentile(
        [t.wall_s - r.wall_s for t, r in zip(m["traced"], m["runs"])], 0.5)
    return out


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mycelial_spark",
                                       "__init__.py")):
        print(f"pipebench: no mycelial_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from pipebench.workloads import WORKLOADS, release_cached
    if args.workload not in WORKLOADS:
        print(f"pipebench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # everything the run writes stays under the checkout; Python workers
    # import the package from it
    work = os.path.join(ROOT, ".pipebench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))

    spark = None
    try:
        spark = start_session()
        setup_s = time.perf_counter() - _T_START

        cls = WORKLOADS[args.workload]
        t_gen = time.perf_counter()
        workload = cls(args.seed, os.path.join(work, "measured"))
        warm = cls(args.seed, os.path.join(work, "warmup"), **cls.warmup)
        t_warm = time.perf_counter()
        while True:
            warm.clean()
            release_cached(spark)
            warm.run(spark)
            if time.perf_counter() - t_warm >= cls.warmup_s:
                break
        t_measure = time.perf_counter()

        from pyspark import SparkContext
        pids = [os.getpid(), SparkContext._gateway.proc.pid]
        with RssSampler(pids) as rss:
            m = measure(spark, workload, args.seconds, bool(args.trace))
        if args.trace:
            metrics = per_layer(m, rss.peak_kb)
            units = PER_LAYER
        else:
            metrics = end_to_end(setup_s, m)
            units = END_TO_END
        info = {"workload": args.workload, "seed": args.seed,
                "inputs": workload.sizes, "runs": len(m["runs"]),
                "traced_runs": len(m["traced"]),
                "batches": sum(len(r.batches) for r in m["runs"]),
                "run_walls_s": [round(r.wall_s, 3) for r in m["runs"]],
                "phases_s": {"setup": round(setup_s, 2),
                             "inputs": round(t_warm - t_gen, 2),
                             "warmup": round(t_measure - t_warm, 2),
                             "measure": round(time.perf_counter()
                                              - t_measure, 2)}}
        result = {
            "correct": not m["failures"],
            "attempted": m["attempted"],
            "failed": len(m["failures"]),
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run uses it
            os.rmdir(os.path.dirname(work))
    print("pipebench-run " + json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
