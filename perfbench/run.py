"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload chat_build --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One process drives Spark at local[N], N
the CPUs this process may use, with every piece of scratch state (warehouse,
Spark local dirs, temp files) under `.perfbench_tmp/` in the checkout,
removed at exit. Metric names and units come from BENCHMARK.json.

--trace 0 times ops untraced until --seconds have passed (at least one op)
and reports the end-to-end metrics. --trace 1 traces one op and reports its
per-layer metrics, the time tracing added to it, the driver-side kernel
pass, and the sections that reach the layers the op does not (see
README.md). Spans go to `.perfbench_out/` when the run ends, next to the
row counts each seed gave, which later runs of that seed must repeat.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. Lines before it give every metric by name with its unit.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT_REPEATS = 3  # input generations in set-up; setup_s takes the median
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def sandbox_env(tmp: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into tmp,
    before the JVM starts (the python workers inherit this environment)."""
    os.makedirs(os.path.join(tmp, "local"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    tempfile.tempdir = tmp


def start_session(tmp: str):
    from gliner_spark.plans.session import build_session

    cpus = len(os.sched_getaffinity(0))
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM the driver launched and any process still
    below this one, and wait for each to exit."""
    from pyspark import SparkContext

    from perfbench import procstat

    gateway = SparkContext._gateway
    spark.stop()
    left = [p for p in procstat.descendants(os.getpid(), procstat.snapshot())
            if p != os.getpid()]
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in left if os.path.exists(f"/proc/{p}")]
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while alive and time.time() < deadline:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        if not alive:
            return


def measure_op(wl, i: int, tracer=None) -> dict:
    from perfbench import procstat
    from perfbench.workloads import dir_mb

    cpu0 = procstat.tree_cpu_s()
    t0 = time.perf_counter()
    with procstat.RssSampler() as rss:
        if tracer is None:
            r = wl.op(i)
        else:
            with wl.traced(tracer), tracer.span("op", workload=wl.name):
                r = wl.op(i, tracer)
    r["wall_s"] = time.perf_counter() - t0
    r["cpu_s"] = procstat.tree_cpu_s() - cpu0
    r["peak_rss_mb"] = rss.peak_mb
    r["out_mb"] = dir_mb(*r["out"])
    return r


class Ledger:
    """Ops attempted and failed; an op fails if it raises or its checks
    fail, or if its row counts differ from those of an earlier op of this
    seed, in this run or in an earlier one (`expected`)."""

    def __init__(self, expected: dict | None):
        self.attempted = self.failed = 0
        self.ok: list[dict] = []
        self.counts: list[dict] = [expected] if expected else []

    def run(self, wl, i: int, tracer=None) -> dict | None:
        self.attempted += 1
        try:
            r = measure_op(wl, i, tracer)
            log(f"op {i}{' traced' if tracer else ''}: {r['wall_s']:.1f}s")
            counts, errors = wl.check(r)
            log(f"op {i} checked")
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if self.counts and counts != self.counts[0]:
            errors.append(f"row counts {counts} differ from {self.counts[0]}, "
                          "an earlier op's on this seed")
        for e in errors:
            print(f"check failed (op {i}): {e}", file=sys.stderr)
        if errors:
            self.failed += 1
            return None
        self.counts.append(counts)
        self.ok.append(r)
        return r


def end_to_end(wl, ops: list[dict], setup_s: float) -> dict:
    med = lambda k: statistics.median(r[k] for r in ops)  # noqa: E731
    wall = med("wall_s")
    return {
        "turns_per_s": wl.n_turns / wall,
        "wall_s": wall,
        "cpu_s": med("cpu_s"),
        "setup_s": setup_s,
        "peak_rss_mb": max(r["peak_rss_mb"] for r in ops),
        "out_mb": med("out_mb"),
    }


def run(args) -> tuple[Ledger, dict, dict]:
    """-> (ledger, metrics, timing summaries)."""
    from perfbench import tracing
    from perfbench.stats import summarize
    from perfbench.workloads import WORKLOADS, engine_totals

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    tmp = os.environ["TMPDIR"]
    t0 = time.perf_counter()
    spark = start_session(tmp)
    try:
        session_s = time.perf_counter() - t0
        log(f"session started in {session_s:.1f}s")
        wl = WORKLOADS[args.workload](spark, args.seed, tmp)
        gen = []
        for _ in range(1 if args.trace else INPUT_REPEATS):
            t = time.perf_counter()
            wl.make_input()
            gen.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.setup()
        base_s = time.perf_counter() - t
        log(f"input generated in {', '.join(f'{g:.1f}s' for g in gen)}; "
            f"set-up {base_s:.1f}s")
        setup_s = session_s + statistics.median(gen) + base_s

        ledger = Ledger(load_counts(args))
        if not args.trace:
            start = time.perf_counter()
            i = 0
            while True:
                ledger.run(wl, i)
                i += 1
                if time.perf_counter() - start >= args.seconds:
                    break
            if not ledger.ok:
                raise RuntimeError("every op failed")
            save_counts(args, ledger.counts[0])
            metrics = end_to_end(wl, ledger.ok, setup_s)
            timings = {k: summarize([r[k] for r in ledger.ok])
                       for k in ("wall_s", "cpu_s")}
            return ledger, metrics, timings

        tracer = tracing.Tracer(spark.sparkContext, op=0)
        b = ledger.run(wl, 0, tracer)
        if b is None:
            raise RuntimeError("the traced op failed")
        save_counts(args, ledger.counts[0])
        tracing.attach_spark_metrics(spark.sparkContext, tracer.spans)
        metrics = {
            "setup.session_s": session_s,
            "sources.generate_s": statistics.median(gen),
            "setup.base_s": base_s,
            "trace.op_wall_s": tracer.spans[0].dur,
            "trace.overhead_s": tracer.overhead_s,
            **engine_totals(tracer.spans),
            **wl.kernel_layers(),
        }
        metrics.update(wl.layers(tracer, b, ledger.counts[0]))
        log("per-layer metrics of the traced op read")
        spans = tracer.to_records()
        extra = tracing.Tracer(spark.sparkContext, op=1)
        ledger.attempted += 1
        try:
            layer, errors = wl.extra_layers(extra, b)
        except Exception:
            traceback.print_exc()
            layer, errors = {}, ["raised"]
        log("extra layers measured")
        metrics.update(layer)
        spans += extra.to_records()
        for e in errors:
            print(f"check failed ({wl.name} extra layers): {e}", file=sys.stderr)
        ledger.failed += bool(errors)
        write_spans(args, spans)
        timings = {"traced op wall_s": summarize([b["wall_s"]])}
        return ledger, metrics, timings
    finally:
        stop_session(spark)
        log("session stopped")


def _out_path(name: str) -> str:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    return os.path.join(out, name)


def write_spans(args, records: list[dict]) -> None:
    path = _out_path(f"spans-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(records, fh, indent=1, default=str)


def source_digest() -> str:
    """Digest of the program's and the benchmark's Python sources: row
    counts recorded under one digest are not compared with another's."""
    h = hashlib.sha256()
    for top in ("gliner_spark", "perfbench"):
        for root, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(root, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _counts_key(args) -> str:
    return f"{args.seed}:{source_digest()}"


def load_counts(args) -> dict | None:
    """Row counts an earlier run of this workload, seed and source left."""
    path = _out_path(f"counts-{args.workload}.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh).get(_counts_key(args))


def save_counts(args, counts: dict) -> None:
    path = _out_path(f"counts-{args.workload}.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as fh:
            seen = json.load(fh)
    seen.setdefault(_counts_key(args), counts)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(seen, fh, indent=1)
    os.replace(tmp, path)


def report(args, ledger: Ledger, metrics: dict, timings: dict) -> dict:
    """Print every metric with its unit; return the result object."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    unknown = set(metrics) - {m["name"] for m in declared}
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    out = {}
    for m in declared:
        value = float(metrics.get(m["name"], 0.0))
        out[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']} = {value:.6g} {m['unit']}")
    for name, t in timings.items():
        tail = (f", p{t['p']:g} = {t['p_value']:.6g}" if "p" in t
                else ", no percentile has 10 samples beyond it")
        print(f"{name}: median {t['median']:.6g} over {t['n']} op(s){tail}")
    print(f"error_rate = {ledger.failed / ledger.attempted:.6g} "
          f"({ledger.failed} of {ledger.attempted} ops failed)")
    return {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": out,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    sandbox_env(tmp)
    sys.path[0] = ROOT  # import perfbench and the program from the checkout
    try:
        ledger, metrics, timings = run(args)
        result = report(args, ledger, metrics, timings)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):  # still used by a concurrent run
            os.rmdir(os.path.dirname(tmp))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
