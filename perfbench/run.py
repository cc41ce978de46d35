"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_refresh,query_mix,corpus_dedup}
        --seed N --seconds S --trace {0,1} [--size {default,tiny}]

Run from the repository root. One process, one client, closed loop: the
next op is sent only after the previous one returned, on a Spark session
with master `local[nproc]`. The seed makes the inputs (cached per seed
under `.perfbench/`); generating them and checking results is never
timed. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the lines before it are
the human-readable report. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench")


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """The result line's metrics, name -> unit, as BENCHMARK.json declares
    them: (end-to-end, per-layer). The report lines print more."""
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["etl_refresh", "query_mix", "corpus_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="summed op time to measure")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["default", "tiny"], default="default")
    return p.parse_args(argv)


def isolate_scratch() -> dict[str, str]:
    """Keep every file the run writes inside the checkout: Python and JVM
    temp files, Spark's local dirs and warehouse. Returns the Spark confs
    that do it."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TZ"] = "UTC"  # collected timestamps compare with DuckDB's naive UTC
    time.tzset()
    return {  # SPARK_LOCAL_DIRS above already sets Spark's local dirs
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile with
    at least ten samples above it, i.e. the 11th largest sample. Below 20
    samples that percentile would fall under the median, so the maximum
    is reported instead (nothing beyond it)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) of this process plus the JVM's."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def cpu_times() -> list[int] | None:
    """The host-wide CPU counters of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), or None where there are none."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_fraction(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_times()` readings: a run with a high share was slowed by its
    neighbours, not by the code under test."""
    if not before or not after or len(before) < 8 or len(after) < 8:
        return None
    total = sum(after[:8]) - sum(before[:8])
    return (after[7] - before[7]) / total if total > 0 else None


def git_commit() -> str:
    # only the checkout's own repository: git would otherwise search the
    # directories above it
    if not os.path.exists(os.path.join(REPO, ".git")):
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


class Runner:
    def __init__(self, args, workload_cls, confs: dict[str, str], layer_names):
        self.args = args
        self.layer_names = layer_names
        self.cls = workload_cls
        self.confs = confs
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.jvm_proc = None
        self.self_times: dict = {}
        self.java = "unknown"

    # -- ops -------------------------------------------------------------
    def run_op(self, wl, i: int) -> tuple[float | None, float]:
        """Time op i, then check its result. Returns (latency, or None
        when the op raised; seconds spent checking)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            result = wl.op(i)
        except Exception:  # an op that raises is a failed op; keep serving
            self.failed += 1
            text = " | ".join(traceback.format_exc(limit=3).strip().splitlines())
            self.failures.append(f"op {i} {wl.label(i)}: {text}")
            return None, 0.0
        dt = time.perf_counter() - t
        problems = wl.check(i, result)
        if problems:
            self.failed += 1
            self.failures.append(f"op {i} {wl.label(i)}: {problems[:3]}")
        return dt, time.perf_counter() - t - dt

    def loop(self, wl, start: int, budget: float,
             tracer=None) -> tuple[list[float], list[str], list[bool]]:
        """Closed loop from op `start` until the summed op time reaches
        `budget` seconds, ending on a whole cycle of the workload's
        request sequence (so every run measures the same mix) and running
        at least three cycles (so each request type has three samples even
        on a slow host); gives up after more than three cycles' worth of
        ops raised, or at 3x budget + 60 s of wall time. With a tracer,
        every second cycle is traced, each traced op followed by the
        workload's untimed probe: traced and
        untraced ops then hold the same request mix, and drift in the
        host's speed or the JIT's warm-up affects both alike. Returns
        latencies, labels and traced flags of the ops that did not
        raise."""
        times, labels, traced, i = [], [], [], start
        wall_end = time.perf_counter() + 3 * budget + 60
        while ((sum(times) < budget or (i - start) % wl.cycle or i - start < 3 * wl.cycle)
               and time.perf_counter() < wall_end and i - start - len(times) <= 3 * wl.cycle):
            on = tracer is not None and (i - start) // wl.cycle % 2 == 1
            if on:
                tracer.enabled = True
            dt, _ = self.run_op(wl, i)
            if on:
                wl.after_traced_op(tracer)
                tracer.enabled = False
            if dt is not None:
                times.append(dt)
                labels.append(wl.label(i))
                traced.append(on)
            i += 1
        return times, labels, traced

    # -- whole run -------------------------------------------------------
    def run(self) -> dict:
        args = self.args
        data, facts = self.cls.generate(os.path.join(WORK, "inputs"), args.size, args.seed)

        # set-up: registry import, session start, the warm-up ops
        t = time.perf_counter()
        from real_value_etl_spark.queries import all_queries  # noqa: F401 - fills REGISTRY
        registry_import_s = time.perf_counter() - t
        wl = self.cls(data, facts, WORK, args.seed)
        wl.prepare()  # untimed: oracle results come from DuckDB alone

        t0 = time.perf_counter()
        from real_value_etl_spark.session import get_spark

        confs = dict(self.confs)
        event_dir = os.path.join(WORK, "eventlog")
        if args.trace:
            shutil.rmtree(event_dir, ignore_errors=True)
            os.makedirs(event_dir)
            confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark(app_name=f"perfbench-{args.workload}",
                               master=f"local[{self.cores}]", extra_conf=confs)
        session_start_s = time.perf_counter() - t0
        from pyspark import SparkContext

        self.jvm_proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.sparkContext.setLogLevel("ERROR")
        wl.spark = self.spark
        checking, warmup = 0.0, []
        for i in range(wl.warmup_ops):  # the cold first op, then to steady state
            dt, check_s = self.run_op(wl, i)
            checking += check_s
            warmup.append(dt)
        setup_s = registry_import_s + time.perf_counter() - t0 - checking

        tracer = None
        if args.trace:
            from tracing import Patches, Tracer, count_py4j_calls

            tracer, patches = Tracer(self.spark.sparkContext), Patches()
            count_py4j_calls(tracer, patches)
            wl.install_trace(tracer, patches)
        times, labels, traced = self.loop(wl, wl.warmup_ops, args.seconds, tracer)
        if args.trace:
            patches.restore()

        for q, problems in wl.final_checks().items():
            bad = labels.count(q)
            self.failed += bad
            self.failures.append(f"{q} full result: {problems[:3]} ({bad} ops marked failed)")
        rss = peak_rss_mb(self.jvm_proc.pid if self.jvm_proc else None)
        jvm_system = self.spark.sparkContext._jvm.System
        self.java = f"{jvm_system.getProperty('java.vm.name')} {jvm_system.getProperty('java.version')}"

        layer = None
        untraced = [x for x, f in zip(times, traced) if not f]
        on = [x for x, f in zip(times, traced) if f]
        if args.trace and untraced and on:  # else every op of one kind raised
            from tracing import parse_event_log

            layer = dict.fromkeys(self.layer_names, 0.0)
            layer.update(wl.probe_counts())
            self.stop_spark()  # flushes the event log
            jobs = parse_event_log(event_dir)
            shutil.rmtree(event_dir, ignore_errors=True)
            p50_untraced, p50_traced = statistics.median(untraced), statistics.median(on)
            layer.update(wl.layer_metrics(tracer, jobs, sum(traced), self.cores))
            layer.update({
                "session.start_s": session_start_s,
                "queries.registry_import_s": registry_import_s,
                "trace.op_p50_untraced_s": p50_untraced,
                "trace.op_p50_traced_s": p50_traced,
                "trace.overhead_s": p50_traced - p50_untraced,
            })
            tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"))
            self.self_times = tracer.self_times()
        return {"workload": wl, "times": times, "labels": labels, "setup_s": setup_s,
                "warmup": warmup, "rss": rss, "layer": layer}

    def stop_spark(self) -> None:
        """Stop the session and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if SparkContext._gateway is not None:
            try:
                SparkContext._gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc, self.jvm_proc = self.jvm_proc, None
        if proc is not None and proc.poll() is None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def versions(java: str) -> dict:
    import duckdb
    import pyspark

    return {"pyspark": pyspark.__version__, "java": java, "duckdb": duckdb.__version__}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.stdout.reconfigure(errors="backslashreplace")  # failure text may hold any script
    sys.path.insert(0, REPO)
    try:
        import real_value_etl_spark.api  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {REPO}: {exc}", file=sys.stderr)
        return 2
    confs = isolate_scratch()
    end_to_end, per_layer = declared_metrics()
    from workloads import WORKLOADS

    runner = Runner(args, WORKLOADS[args.workload], confs, per_layer)
    cpu_before = cpu_times()
    try:
        res = runner.run()
    finally:
        runner.stop_spark()
    steal = steal_fraction(cpu_before, cpu_times())

    wl, times, layer = res["workload"], res["times"], res["layer"]
    error_rate = runner.failed / runner.attempted if runner.attempted else 1.0
    out = sys.stdout
    meta = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "seconds": args.seconds, "trace": args.trace,
        "load_shape": f"closed loop, 1 client, local[{runner.cores}]",
        "nproc": runner.cores, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "(unset)"),
        **versions(runner.java), "git_commit": git_commit(), "inputs": wl.describe(),
        "host_cpu_steal": None if steal is None else round(steal, 4),
    }
    print("# run: " + json.dumps(meta), file=out)
    for f in runner.failures[:20]:
        print(f"# FAILED {f}", file=out)
    report = {"setup_s": (res["setup_s"], "s")}
    if times:
        tail_v, tail_p, tail_beyond = tail(times)
        ops_per_s = len(times) / sum(times)
        report.update({
            "op_p50_s": (statistics.median(times), "s"),
            "op_tail_s": (tail_v, "s"),
            "ops_per_s": (ops_per_s, "1/s"),
        })
        print(f"# ops measured: {len(times)}; op_tail_s is p{tail_p:.4g} "
              f"({tail_beyond} samples beyond it)", file=out)
    else:
        print("# ops measured: 0 (every op of the window raised)", file=out)
    report.update({"peak_rss_mb": (res["rss"], "MB"), "error_rate": (error_rate, "fraction")})
    if times:
        report.update(wl.extra_report(ops_per_s))
    for name, (value, unit) in report.items():
        print(f"# {name} = {value:.6g} {unit}", file=out)
    print("# warm-up op latencies s (in setup_s; - = op raised): " + " ".join(
        "-" if t is None else f"{t:.3f}" for t in res["warmup"]), file=out)
    print("# op latencies s, in order: " + " ".join(f"{t:.3f}" for t in times), file=out)
    by_label: dict[str, list[float]] = {}
    for label, dt in zip(res["labels"], times):
        by_label.setdefault(label, []).append(dt)
    print("# per-request median s: " + ", ".join(
        f"{k}={statistics.median(v):.4f}" for k, v in sorted(by_label.items())), file=out)
    metrics = {}
    if args.trace and layer is not None:
        print("# per-layer (traced ops, every second cycle of the window; per op unless a "
              "count of the run):", file=out)
        for name, unit in per_layer.items():
            print(f"#   {name} = {layer[name]:.6g} {unit}", file=out)
        print("# spans over the traced ops (name: count, total s, self s, Py4J calls):",
              file=out)
        for name, row in sorted(runner.self_times.items()):
            print(f"#   {name}: {row['count']}, {row['total_s']:.4f}, {row['self_s']:.4f}, "
                  f"{row['py4j']}", file=out)
        print(f"# tracing overhead: traced op p50 - untraced op p50 = "
              f"{layer['trace.overhead_s']:.4f} s (interleaved ops of one process, "
              f"event log on for both)",
              file=out)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer.items()}
    elif args.trace:
        print("# per-layer metrics: none, the window holds no traced or no untraced op "
              "that completed", file=out)
    elif times:
        metrics = {k: {"value": report[k][0], "unit": report[k][1]} for k in end_to_end}
    # a run without every declared metric is not a correct run, even if no op failed
    correct = runner.failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
