"""sparklog benchmark: seeded workloads at local[nproc], end-to-end
metrics untraced, per-layer metrics from a separate traced run.

    python3 perfbench/run.py --workload route_write --seed 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every metric, by name

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. The line
before it holds the host facts. Spans (traced runs) and full results
are written under .perfbench/out/. See perfbench/NOTE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3  # input generation + encode repeats; setup_s uses the median
MIN_ITERS = 1  # timed iterations per run, even past --seconds
TRACE_ITERS = 1  # traced iterations per traced run, even past --seconds
CUT_ROUNDS = 2  # timed repeats of every layer cut, after one untimed


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(mem_mb: int) -> int:
    """An eighth of the host's memory, between 1 and 4 GiB."""
    return max(1024, min(4096, mem_mb // 8))


def host_facts(level: int) -> dict:
    import pyarrow
    import pyspark

    mem = mem_total_mb()
    return {
        "nproc": nproc(),
        "mem_total_mb": mem,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "SPARK_GRAFT_DECODE": os.environ.get("SPARK_GRAFT_DECODE", "jvm"),
        "local_level": level,
        "driver_memory_mb": driver_memory_mb(mem),
    }


def start_spark(level: int, driver_mb: int, workdir: str):
    """The program's own session factory at local[level]; every scratch
    path Spark and the JVM use points inside the work directory."""
    from rsyslog_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "perfbench", master=f"local[{level}]",
        extra_conf={
            "spark.driver.memory": f"{driver_mb}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp}"
                # compiler threads stay alive, so their CPU stays countable
                " -XX:-UseDynamicNumberOfCompilerThreads"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def wait_ended(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what is
    left after the timeout."""
    deadline = time.time() + timeout_s
    while True:
        left = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return True
    return stat[stat.rindex(b")") + 2:].split()[0] == b"Z"


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, args, level: int):
        from perfbench.probe import Tracer

        self.args = args
        self.level = level
        self.facts = host_facts(level)
        tag = f"{args.workload}-{args.seed}-{os.getpid()}"
        self.workdir = os.path.join(BENCH_DIR, "work", tag)
        self.tracer = Tracer(enabled=bool(args.trace))
        self.off = Tracer(enabled=False)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.jit: list[float] = []
        self.ref = ""
        self.spark = None

    def iteration(self, w, tracer) -> tuple[float, float] | None:
        """One checked iteration; its wall time and the CPU time the
        benchmark's process tree (driver JVM, Python daemon and workers)
        spent on it outside the JIT compiler threads, or None if it
        failed. JIT compiles after one warm-up still cost 40–70 % of a
        curate iteration's CPU and vary the most from run to run."""
        from perfbench.probe import jit_cpu_s, tree_cpu_s
        from perfbench.workloads import digest

        self.attempted += 1
        try:
            me = os.getpid()
            c0, j0 = tree_cpu_s(me), jit_cpu_s(me)
            t0 = time.perf_counter()
            out = w.iterate(tracer)
            dt = time.perf_counter() - t0
            jit = jit_cpu_s(me) - j0
            cpu = tree_cpu_s(me) - c0 - jit
            self.jit.append(jit)
            with tracer.span("check.read_back"):
                out.update(w.read_back())
        except Exception:  # noqa: BLE001 — a failed iteration is counted
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None
        if digest(out) != self.ref:
            self.failed += 1
            self.errors.append(f"iteration {self.attempted}: outputs differ "
                               "from the first iteration")
            return None
        return dt, cpu

    def setup(self, w_cls):
        """Session start, SETUP_REPS × (generate + encode), warm-up."""
        from perfbench.workloads import digest

        t0 = time.perf_counter()
        self.spark = start_spark(
            self.level, self.facts["driver_memory_mb"], self.workdir
        )
        session_s = time.perf_counter() - t0
        w = w_cls(self.spark, self.workdir, self.level)
        gen = []
        for r in range(SETUP_REPS):
            if w.data:
                shutil.rmtree(w.data)
            t0 = time.perf_counter()
            with self.tracer.span("setup.generate_encode", rep=r):
                w.generate(self.args.seed, os.path.join(self.workdir,
                                                        f"data-{r}"))
                w.prepare()
            gen.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with self.tracer.span("setup.warmup"):
            self.first = w.iterate(self.off)
        warm_s = time.perf_counter() - t0
        self.first.update(w.read_back())
        self.ref = digest(self.first)
        self.setup_parts = {
            "session_s": session_s, "generate_encode_s": gen,
            "warmup_s": warm_s,
        }
        self.setup_s = session_s + median(gen) + warm_s
        return w

    def timed_loop(self, w) -> None:
        deadline = time.perf_counter() + self.args.seconds
        n = 0
        while n < MIN_ITERS or time.perf_counter() < deadline:
            n += 1
            got = self.iteration(w, self.off)
            if got is not None:
                self.times.append(got[0])
                self.cpu.append(got[1])

    def traced(self, w) -> dict:
        """Per-layer metrics: traced iterations, then CUT_ROUNDS rounds
        of layer cuts, then the workload's layer metrics.

        The tracing overhead is measured directly: the time a traced
        iteration spends reading the status store (span records cost
        microseconds). Differencing traced and untraced ~10 s iterations
        instead would bury it under the JIT's run-to-run warming."""
        from perfbench.probe import StatusProbe, duration, self_time

        probe = StatusProbe(w.spark)
        traced, walls, counters, iters, probe_s = [], [], [], [], []
        deadline = time.perf_counter() + self.args.seconds
        n = 0
        while n < TRACE_ITERS or time.perf_counter() < deadline:
            n += 1
            probe.mark()
            with self.tracer.span("iteration", i=n) as sp:
                got = self.iteration(w, self.tracer)
                t0 = time.perf_counter()
                counters.append(probe.collect())
                probe_s.append(time.perf_counter() - t0)
            if got is not None:
                walls.append(got[0])
                traced.append(got[0] + probe_s[-1])
                self.cpu.append(got[1])
                iters.append(sp)
        spans = self.tracer.spans
        iter_ids = {s["id"] for s in iters}

        def span_s(name: str) -> float:
            """Median duration of a layer span in the traced iterations."""
            return median([duration(s) for s in spans
                           if s["name"] == name and s["parent"] in iter_ids])

        cut_t: dict[str, list[float]] = {}
        cuts = w.cuts()
        for r in range(CUT_ROUNDS + 1):
            for layer, _prev, action in cuts:
                with self.tracer.span(f"cut.{layer}", round=r) as sp:
                    action()
                if r:  # round 0 compiles and warms the cut plans
                    cut_t.setdefault(layer, []).append(duration(sp))
        cut = {k: median(v) for k, v in cut_t.items()}
        layers = {lay: cut[lay] - cut.get(prev, 0.0) for lay, prev, _ in cuts}
        m = w.layer_metrics(layers, cut, span_s, self.tracer)
        for key in ("shuffle_bytes", "spill_bytes", "python_worker_s",
                    "python_bytes", "tasks", "failed_tasks"):
            m[f"spark.{key}"] = median([c[key] for c in counters])
        m["rows_per_s"] = w.rows / median(walls) if walls else 0.0
        m["trace.overhead_s"] = median(probe_s)
        m["trace.iteration_s"] = median(traced)
        m["trace.unaccounted_share"] = median([
            self_time(s, spans) / duration(s) for s in iters
        ])
        self.times = traced
        self.cut_s = cut
        return m

    def execute(self) -> dict:
        from perfbench.probe import RssSampler
        from perfbench.workloads import WORKLOADS

        os.makedirs(self.workdir, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.workdir,
                                                      "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.workdir, "tmp")
        w = None
        layer: dict = {}
        try:
            with RssSampler() as rss:
                w = self.setup(WORKLOADS[self.args.workload])
                if self.args.trace:
                    layer = self.traced(w)
                else:
                    self.timed_loop(w)
            t0 = time.perf_counter()
            oracle_errors = w.oracle_check(self.first)
            self.oracle_s = time.perf_counter() - t0
        finally:
            from perfbench.probe import descendants

            t0 = time.perf_counter()
            started = descendants(os.getpid())
            if w is not None:
                w.close()
            if self.spark is not None:
                stop_spark(self.spark)
            wait_ended(started)
            shutil.rmtree(self.workdir, ignore_errors=True)
            self.teardown_s = time.perf_counter() - t0
        self.errors += oracle_errors
        correct = not oracle_errors and self.failed == 0
        # the warm-up iteration is attempted too, and checked by the oracle
        attempted = self.attempted + 1
        failed = self.failed + (1 if oracle_errors else 0)
        if self.args.trace:
            values = {**layer, "peak_rss_mb": rss.peak_mb()}
        else:
            values = {
                "rows_per_cpu_s": w.rows / median(self.cpu) if self.cpu
                else 0.0,
                "setup_s": self.setup_s,
                "ok_share": (attempted - failed) / attempted,
            }
        return {
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": named_metrics(values, bool(self.args.trace)),
            "detail": {
                "host": self.facts, "rows": w.rows,
                "iteration_s": self.times, "iteration_cpu_s": self.cpu,
                "iteration_jit_cpu_s": self.jit,
                "setup": self.setup_parts,
                "oracle_s": self.oracle_s, "teardown_s": self.teardown_s,
                "wall_s": time.perf_counter() - T_START,
                "cut_s": getattr(self, "cut_s", {}), "errors": self.errors,
                "peak_rss_by_process_mb": rss.by_process(),
            },
        }


def named_metrics(values: dict, trace: bool) -> dict:
    """The metrics BENCHMARK.json lists for this mode, with its units.
    A layer the workload does not run reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    unknown = set(values) - {m["name"] for m in spec}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
            for m in spec}


def print_table(result: dict, workload: str) -> None:
    """Every metric with its unit; a layer time also as its share of
    the traced iteration, unless it was timed outside the iteration."""
    from perfbench.workloads import WORKLOADS

    it = result["metrics"].get("trace.iteration_s", {}).get("value")
    outside = WORKLOADS[workload].outside_iteration
    print(f"# {workload}: {'metric':<34} {'value':>16} unit    share")
    for name, m in result["metrics"].items():
        share = ""
        if it and m["unit"] == "s" and name not in outside and name.split(
                ".")[0] not in ("spark", "trace"):
            share = f"{m['value'] / it:6.1%}"
        print(f"# {workload}: {name:<34} {m['value']:>16.6g} "
              f"{m['unit']:<7} {share}")


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------

def run_all(args) -> int:
    """Every workload, untraced and traced, as child runs; one table of
    every metric by name with its unit."""
    from perfbench.workloads import WORKLOADS

    ok = True
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   name, "--seed", str(args.seed), "--seconds",
                   str(args.seconds), "--trace", str(trace)]
            if args.level:
                cmd += ["--level", str(args.level)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr)
                return proc.returncode or 1
            result = json.loads(lines[-1])
            ok = ok and result["correct"]
            for m, v in result["metrics"].items():
                print(f"{name:<12} {m:<34} {v['value']:>16.6g} {v['unit']}")
    print(json.dumps({"correct": ok}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["route_write", "curate", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--level", type=int, default=0,
                    help="N in local[N]; default and maximum: nproc")
    args = ap.parse_args(argv)

    missing = [p for p in ("rsyslog_spark", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program not found next to the benchmark "
              f"(missing {', '.join(missing)} in {ROOT})", file=sys.stderr)
        return 2
    level = args.level or nproc()
    if not 1 <= level <= nproc():
        print(f"perfbench: local[{level}] refused: this host has "
              f"{nproc()} CPUs", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    if args.workload == "all":
        return run_all(args)

    run = Run(args, level)
    result = run.execute()
    detail = result.pop("detail")
    out_dir = os.path.join(BENCH_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"result-{stem}.json"), "w") as fh:
        json.dump({**result, **detail}, fh, indent=1)
    if args.trace:
        run.tracer.write(os.path.join(out_dir, f"spans-{stem}.json"),
                         {"workload": args.workload, "seed": args.seed,
                          "host": detail["host"]})
    for e in detail["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    print_table(result, args.workload)
    print(json.dumps({"host": detail["host"]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
