#!/usr/bin/env python3
"""Repository benchmark runner.

    python3 perfbench/run.py --workload tile_pyramid --seed 1 --seconds 8 --trace 0

Run from the repository root.  It generates the workload's inputs from
``--seed`` under a private temporary directory in the checkout, starts
one ``local[nproc]`` SparkSession, sets up once (session, inputs, one
untimed warm-up repetition), then repeats the workload for ``--seconds``
and checks every repetition against the generator's exact answer.  The
last stdout line is the result object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.  The line
before it is the full record (host, versions, seed, input rows and
digest, every sample).  Exit status is 0 only when every check passed.
See perfbench/README.md for what each metric means.
"""

import time

T0 = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_REPS = 1  # timed repetitions per run, even past --seconds
REP_TIMEOUT_S = 90  # a repetition still running is cancelled and failed
LAST_START_S = 140  # no repetition starts later than this after T0
SMALL_SCALE = 0.1  # the second point of the scale fit
DRIVER_MEM = "2g"  # the Spark driver's maximum heap


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def git_sha(root: str) -> str:
    """HEAD commit read from .git without running git; 'unknown' when
    the checkout is not a repository."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- session
def start_session(tmp: str):
    from osm_spark.session import get_spark

    n = host_cpus()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_start(pid: int) -> str | None:
    """Start time of a live, non-zombie process (None otherwise)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def shutdown(spark) -> None:
    """Stop Spark, end its JVM, and kill whatever it left behind: every
    process that was below this one, matched by start time so a reused
    pid is never hit.  Waits until all of them are gone."""
    from pyspark import SparkContext

    from perfbench.probe import descendants

    procs = {p: _proc_start(p) for p in descendants(os.getpid())}
    gw = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the gateway may already be gone
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        for pid, start in procs.items():
            if start is not None and _proc_start(pid) == start:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + 30
        while any(s is not None and _proc_start(p) == s for p, s in procs.items()):
            if time.monotonic() > deadline:
                raise RuntimeError("processes survived shutdown")
            time.sleep(0.05)


# ------------------------------------------------------------------- run
class Bench:
    def __init__(self, args, tmp: str):
        from perfbench.probe import Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.tmp = tmp
        self.wl = WORKLOADS[args.workload]
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self._rep_ids = itertools.count()

    def gen(self, tag: str, scale: float):
        out = os.path.join(self.tmp, "inputs", tag)
        shutil.rmtree(out, ignore_errors=True)
        return self.wl.inputs(self.args.seed, out, scale)

    def rep(self, ctx, inp, counted: bool = True):
        """One repetition under a watchdog -> seconds, or None if it
        raised, timed out or failed its check."""
        rep_id = next(self._rep_ids)
        ctx.begin_rep(rep_id)
        watchdog = threading.Timer(REP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        watchdog.daemon = True
        t0 = time.perf_counter()
        watchdog.start()
        try:
            problems = self.wl.run(ctx, inp)
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        finally:
            watchdog.cancel()
        dt = time.perf_counter() - t0
        if counted:
            self.attempted += 1
            self.failed += bool(problems)
        if problems:
            self.problems.append(f"rep {rep_id}: " + "; ".join(problems))
            return None
        return dt

    def setup(self):
        """Session up, inputs generated, one warm-up repetition done, all
        timed from process start."""
        from perfbench.workloads import Ctx

        self.spark = start_session(self.tmp)
        t_session = time.perf_counter() - T0
        t1 = time.perf_counter()
        inp = self.gen("full", 1.0)
        t_gen = time.perf_counter() - t1
        ctx = Ctx(self.spark, self.tracer, self.tmp)
        t_warmup = self.rep(ctx, inp, counted=False)
        if t_warmup is None:
            self.problems.append("warm-up failed")
        parts = {"session_s": t_session, "gen_s": t_gen, "warmup_s": t_warmup}
        return inp, time.perf_counter() - T0, parts

    def run(self) -> dict:
        if self.args.trace:
            return self.run_traced()
        from perfbench.probe import RssSampler, steal_s
        from perfbench.workloads import Ctx

        inp, setup_s, parts = self.setup()
        ctx = Ctx(self.spark, self.tracer, self.tmp)
        times, batches = [], []
        stop_at = time.perf_counter() + self.args.seconds
        steal0 = steal_s()
        with RssSampler() as rss:
            while (self.attempted < MIN_REPS or time.perf_counter() < stop_at) and (
                time.perf_counter() - T0 < LAST_START_S
            ):
                dt = self.rep(ctx, inp)
                if dt is not None:
                    times.append(dt)
                    batches += [p["durationMs"]["triggerExecution"] / 1000
                                for p in ctx.progress]
        steal = steal_s() - steal0
        job_s = median(times)
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": inp.n_rows / job_s if job_s else 0.0,
            "peak_rss_mb": rss.peak_mb,
        }
        if batches:
            metrics["batch_s"] = median(batches)
        return self.record(inp, metrics, {
            **parts,
            "job_s": times, "batch_s": batches,
            "rss_jvm_mb": rss.peak_jvm_kb / 1024, "processes": rss.peak_procs,
            "cpu_steal_s": steal,
        })

    def run_traced(self) -> dict:
        """Per-layer numbers: traced and untraced full-size repetitions
        alternate (their difference is the tracing overhead), plus
        untraced 1/10-size ones for the fixed-cost / per-row fit."""
        from perfbench.probe import EngineCounters, Tracer
        from perfbench.workloads import Ctx

        inp, _, parts = self.setup()
        small = self.gen("small", SMALL_SCALE)
        traced = Ctx(self.spark, self.tracer, self.tmp)
        plain = Ctx(self.spark, Tracer(enabled=False), self.tmp)
        counters = EngineCounters(self.spark)
        per_rep: list[dict[str, float]] = []
        t_traced, t_plain, t_small = [], [], []
        stop_at = time.perf_counter() + self.args.seconds
        while (self.attempted == 0 or time.perf_counter() < stop_at) and (
            time.perf_counter() - T0 < LAST_START_S
        ):
            counters.start()
            dt = self.rep(traced, inp)
            if dt is not None:
                t_traced.append(dt)
                per_rep.append({**counters.stop(), **self.layer_values(traced)})
                if self.wl.extras:
                    per_rep[-1].update(self.wl.extras(traced, inp, per_rep[-1]))
            for data, out in ((inp, t_plain), (small, t_small)):
                dt = self.rep(plain, data)
                if dt is not None:
                    out.append(dt)
        values = {k: median([r.get(k, 0.0) for r in per_rep])
                  for k in (per_rep[0] if per_rep else {})}
        full, part = median(t_plain), median(t_small)
        n_full, n_small = inp.n_rows, small.n_rows
        slope = (full - part) / (n_full - n_small)
        values.update({
            "session.start_s": parts["session_s"],
            "input.gen_s": parts["gen_s"],
            "scale.fixed_s": full - slope * n_full,
            "scale.row_ns": slope * 1e9,
            "trace.overhead_s": median(t_traced) - full,
            "failed_frac": self.failed / max(self.attempted, 1),
        })
        if self.wl.name == "history_replication":
            values["temporal.annotate.slow_ref_frac"] = inp.expect["legacy_ref_frac"]
        self.write_spans()
        return self.record(inp, values, {"job_s_traced": t_traced,
                                         "job_s_untraced": t_plain,
                                         "job_s_small": t_small,
                                         "rows_small": n_small})

    def layer_values(self, ctx) -> dict[str, float]:
        out = dict(ctx.values)
        for s in self.tracer.spans:
            if s.rep == self.tracer.rep and s.parent is None:
                out[f"{s.name}.s"] = s.dur
        out.update(self.wl.layers(ctx))
        nodes = [n for ns in ctx.nodes.values() for n in ns]
        out["spark.single_partition_exchanges"] = float(sum(
            1 for n in nodes if n.cls == "ShuffleExchangeExec" and n.partitions == 1
        ))
        return out

    def write_spans(self) -> None:
        out = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"spans-{self.wl.name}-seed{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.tracer.spans], f)

    def record(self, inp, values: dict, samples: dict) -> dict:
        import pyarrow
        import pyspark

        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = spec["per_layer" if self.args.trace else "end_to_end"]
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        }
        ok = self.attempted > 0 and self.failed == 0 and not self.problems
        jvm = self.spark.sparkContext._jvm.java.lang.System
        detail = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "nproc": host_cpus(),
            "git_sha": git_sha(ROOT),
            "versions": {
                "spark": pyspark.__version__,
                "java": jvm.getProperty("java.version"),
                "python": sys.version.split()[0],
                "pyarrow": pyarrow.__version__,
            },
            "input_rows": inp.rows,
            "input_digest": inp.digest(),
            "values": values,
            "samples": samples,
            "problems": self.problems[:10],
        }
        return {
            "detail": detail,
            "result": {
                "correct": ok,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": metrics,
            },
        }


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "osm_spark")):
        print(f"perfbench: no osm_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp_root = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": tmp,
        "SPARK_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = tmp
    bench = None
    try:
        bench = Bench(args, tmp)
        out = bench.run()
    finally:
        try:
            shutdown(bench.spark if bench else None)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(tmp_root)
            except OSError:  # another run still uses it
                pass
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
