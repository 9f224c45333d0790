"""End-to-end and per-layer benchmark of polars_quant_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload long_history --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one table

One run starts a ``local[N]`` session (N = usable cores) in this process,
makes ``WARMUP_CALLS`` warm-up calls of the workload's pipeline, then calls
it again until ``--seconds`` have passed and at least ``MIN_CALLS`` calls
were made, and checks the outputs. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (medians per call):
``wall_s``, ``construct_s``, ``cpu_s`` (driver + JVM + Python workers),
``peak_rss_mb`` and ``setup_s`` (imports + session start + warm-up calls,
without the spot check that follows the last warm-up call).
``fail_frac`` is ``failed / attempted``; it is printed in the text summary.

``--trace 1`` first makes one ``--trace 0`` run at the same seed in a child
process, then starts a session with Spark's event log on and every call
span tagged as a job group, makes the same warm-up and one measured call,
and folds the log into per-layer metrics (see README.md).
``trace.overhead_frac`` compares that call with the child's first measured
call, so both sides are the first call after the same warm-up; one call
keeps the two runs within the time limit.

The session is the one ``get_spark`` builds, with Spark's defaults for
what it leaves unset; the run sets only the core count, a fixed 2 GB heap
through ``get_spark``'s own knobs, the Python workers' path, the temporary
directories and, when tracing, the event log.

Inputs, event logs and Spark temporary files live under ``.perfbench/`` in
the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import procstat  # noqa: E402

WORKLOADS = sorted(inputs.SIZES)
CALL_SPANS = [
    "sources.bars",
    "functions",
    "functions.pattern",
    "operators.recurrence",
    "backtest",
    "operators.segmented",
    "operators.dedup",
    "operators.text",
    "operators.similarity",
]
PY_LAYERS = ["operators.recurrence", "backtest", "operators.segmented", "operators.similarity"]
PY_COUNTERS = ["py_start_ms", "py_init_ms", "py_run_ms", "py_bytes_out", "py_bytes_in"]
ENGINE = [
    "spark.scan.ms",
    "spark.scan.bytes",
    "spark.exchange.count",
    "spark.exchange.bytes",
    "spark.exchange.write_ms",
    "spark.exchange.fetch_wait_ms",
    "spark.arrow.count",
    "spark.codegen.ms",
    "spark.sort.ms",
    "spark.sort.spill_bytes",
    "spark.checkpoint.bytes",
    "spark.jobs",
    "spark.tasks",
    "spark.tasks.failed",
    "spark.tasks.sched_delay_ms",
    "spark.executor.run_ms",
    "spark.executor.cpu_ms",
    "spark.executor.gc_ms",
]
#: pipeline calls inside set-up, before measuring
WARMUP_CALLS = 1
#: fewest measured calls per untraced run
MIN_CALLS = 2
#: label of the per-call wall line in the text summary
CALL_WALLS = "call walls (s):"
#: largest |wall - sum of spans| / wall accepted for a traced call
SPAN_TOLERANCE = 0.02
#: driver heap, both initial and maximum
HEAP = "2g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(trace_dir: str | None) -> None:
    """Process environment for the session this run starts. Must run before
    the JVM is launched."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # a fixed heap through get_spark's own knobs: with its growable default
    # the heap grows when GC timing says so and peak RSS spreads ~30%
    # between runs (README.md, "Session settings")
    os.environ["SPARK_DRIVER_MEMORY"] = os.environ["SPARK_GRAFT_XMS"] = HEAP
    # the Arrow UDFs unpickle library functions in the Python workers
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # every JVM, the spark-submit launcher included: no /tmp perf data
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = ["--conf spark.ui.showConsoleProgress=false"]
    if trace_dir:
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{trace_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.logBlockUpdates.enabled=true",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


class Session:
    """One Spark session driving one workload: timed pipeline calls,
    digest comparison, the spot check and failure accounting."""

    def __init__(self, workload: str, inp: str, tag_jobs: bool):
        import workloads
        from polars_quant_spark.session import get_spark, released

        self.wl = workloads
        self.pipeline = workloads.PIPELINES[workload]
        self.check = workloads.CHECKS[workload]
        self.released = released
        self.inp = inp
        self.tag_jobs = tag_jobs
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.master = self.spark.sparkContext.master
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.digest = None
        self.check_s = 0.0

    def _group(self, gid: str) -> None:
        if self.tag_jobs:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def call(self, label: str, check: bool = False) -> dict | None:
        """One pipeline call. Returns its timings, or None if it failed.
        With ``check``, the call's results are also spot-checked after its
        timing ends, while its frames are still live; ``check_s`` keeps the
        check's duration."""
        spans: list[tuple[str, float, float]] = []

        @contextlib.contextmanager
        def span(name):
            self._group(f"{label}:{name}")
            t = time.perf_counter()
            try:
                yield
            finally:
                spans.append((name, t, time.perf_counter()))

        self.attempted += 1
        errors: list[str] = []
        cpu0 = procstat.cpu_seconds()
        t0 = time.perf_counter()
        try:
            with self.released(self.spark):
                outputs, frames = self.pipeline(self.spark, self.inp, span)
                got = self.wl.digest(outputs)
                t1 = time.perf_counter()
                cpu1 = procstat.cpu_seconds()
                if check:
                    self._group("check")
                    self.attempted += 1
                    errors = self.check(self.spark, self.inp, outputs, frames)
                    self.check_s = time.perf_counter() - t1
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
            self.errors.append(f"call {label}: {type(exc).__name__}: {exc}"[:500])
            self.failed += 1
            return None
        finally:
            self._group("idle")
        if errors:
            self.errors += [f"spot check of call {label}: {e}" for e in errors]
            self.failed += 1
        if self.digest is None:
            self.digest = got
        elif got != self.digest:
            self.errors.append(f"call {label}: output digest {got} != {self.digest}")
            self.failed += 1
            return None
        force = next(s for s in spans if s[0] == "force")
        per_span: dict[str, float] = {}
        for name, a, b in spans:
            per_span[name] = per_span.get(name, 0.0) + (b - a)
        return {
            "label": label,
            "wall_s": t1 - t0,
            "construct_s": force[1] - t0,
            "cpu_s": cpu1 - cpu0,
            "spans": per_span,
        }

    def warm_up(self) -> None:
        """The set-up calls. The last one's results are spot-checked; every
        measured call must then reproduce its digest, so the check covers
        them without its own jobs (and the code they compile) landing
        between measured calls."""
        for i in range(WARMUP_CALLS):
            self.call(f"w{i}", check=i == WARMUP_CALLS - 1)

    def measure(self, seconds: float) -> list[dict]:
        """Calls until ``seconds`` have passed and at least ``MIN_CALLS``
        calls were made."""
        out = []
        deadline = time.perf_counter() + seconds
        i = 0
        while i < MIN_CALLS or time.perf_counter() < deadline:
            i += 1
            rec = self.call(str(i))
            if rec is not None:
                out.append(rec)
        return out

    def stop(self) -> None:
        """Stop the session, then the JVM behind it (it exits when its stdin
        closes), and wait for the JVM to end."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None


def _cross_run_check(workload: str, seed: int, sess: "Session") -> None:
    """Digests must repeat across runs at the same seed: the first clean
    run stores them, later runs compare. A mismatch makes every call of
    this run wrong."""
    if sess.digest is None:
        return
    key = inputs.cache_key(workload, seed, "inputs.py", "workloads.py")
    path = os.path.join(WORK, "digests", f"{key}.json")
    now = {k: list(v) for k, v in sess.digest.items()}
    if os.path.exists(path):
        with open(path) as fh:
            before = json.load(fh)
        if before != now:
            sess.errors.append(f"digest {now} differs from an earlier run's {before}")
            sess.failed = sess.attempted
    elif not sess.failed:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(now, fh)


def _untraced_wall(workload: str, seed: int, seconds: float) -> float | None:
    """Wall of the first measured call of one ``--trace 0`` run at the same
    seed in a child process, the reference for trace.overhead_frac; None if
    the run failed."""
    ref = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True,
        text=True,
    )
    lines = ref.stdout.strip().splitlines()
    if ref.returncode or not lines:
        return None
    if not json.loads(lines[-1])["correct"]:
        return None
    walls = next(line for line in lines if line.lstrip().startswith(CALL_WALLS))
    return float(walls.split(":", 1)[1].split()[0])


def _median(calls, key):
    return statistics.median(c[key] for c in calls)


def run_untraced(workload: str, seed: int, seconds: float, inp: str) -> dict:
    _configure_env(None)
    with procstat.PeakRss() as rss:
        t0 = time.perf_counter()
        sess = Session(workload, inp, tag_jobs=False)
        sess.warm_up()
        setup_s = time.perf_counter() - t0 - sess.check_s
        calls = sess.measure(seconds)
        sess.stop()
    _cross_run_check(workload, seed, sess)
    metrics = {}
    if calls:
        metrics = {
            "wall_s": (_median(calls, "wall_s"), "s"),
            "construct_s": (_median(calls, "construct_s"), "s"),
            "cpu_s": (_median(calls, "cpu_s"), "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
            "setup_s": (setup_s, "s"),
        }
    return {
        "attempted": sess.attempted,
        "failed": sess.failed,
        "errors": sess.errors,
        "metrics": metrics,
        "samples": len(calls),
        "walls": [c["wall_s"] for c in calls],
        "master": sess.master,
    }


def run_traced(workload: str, seed: int, seconds: float, inp: str) -> dict:
    import shutil

    import eventlog

    ref_wall = _untraced_wall(workload, seed, seconds)

    log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    _configure_env(log_dir)
    sess = Session(workload, inp, tag_jobs=True)
    sess.warm_up()
    rec = sess.call("1")
    traced = [rec] if rec is not None else []
    verify_yield = _verify_yield(sess) if workload == "corpus_dedup" else 0.0
    sess.stop()
    _cross_run_check(workload, seed, sess)
    groups = eventlog.fold(eventlog.load(log_dir))
    shutil.rmtree(log_dir, ignore_errors=True)

    n = max(1, len(traced))
    labels = {c["label"] for c in traced}
    totals: dict[str, float] = {}
    per_span: dict[str, dict[str, float]] = {}
    for gid, counters in groups.items():
        label, _, span = gid.partition(":")
        if label not in labels:
            continue
        for k, v in counters.items():
            totals[k] = totals.get(k, 0.0) + v
        agg = per_span.setdefault(span, {})
        for k, v in counters.items():
            agg[k] = agg.get(k, 0.0) + v

    metrics: dict[str, tuple[float, str]] = {}
    for name in CALL_SPANS:
        vals = [c["spans"].get(name, 0.0) for c in traced] or [0.0]
        metrics[f"{name}.call_s"] = (statistics.median(vals), "s")
    for name in ("operators.segmented", "operators.dedup"):
        got = per_span.get(name, {})
        metrics[f"{name}.jobs"] = (got.get("spark.jobs", 0.0) / n, "count")
        metrics[f"{name}.job_s"] = (got.get("job_ms", 0.0) / 1000 / n, "s")
    for layer in PY_LAYERS:
        for m in PY_COUNTERS:
            unit = "bytes" if "bytes" in m else "ms"
            metrics[f"{layer}.{m}"] = (totals.get(f"{layer}.{m}", 0.0) / n, unit)
    for key in ENGINE:
        unit = "ms" if key.endswith("_ms") or key.endswith(".ms") else (
            "bytes" if "bytes" in key else "count"
        )
        metrics[key] = (totals.get(key, 0.0) / n, unit)
    wall_ms = sum(c["wall_s"] for c in traced) * 1000
    metrics["spark.executor.util"] = (
        totals.get("spark.executor.run_ms", 0.0) / (_cores() * wall_ms) if wall_ms else 0.0,
        "ratio",
    )
    metrics["operators.dedup.verify_yield"] = (verify_yield, "ratio")
    gaps = [abs(c["wall_s"] - sum(c["spans"].values())) / c["wall_s"] for c in traced]
    metrics["trace.span_gap_frac"] = (max(gaps) if gaps else 0.0, "ratio")
    overhead = 0.0
    if traced and ref_wall:
        overhead = traced[0]["wall_s"] / ref_wall - 1
    metrics["trace.overhead_frac"] = (overhead, "ratio")
    errors = list(sess.errors)
    failed = sess.failed
    if gaps and max(gaps) > SPAN_TOLERANCE:
        errors.append(f"call spans cover only {1 - max(gaps):.3f} of a call's wall")
        failed += 1
    if ref_wall is None:
        errors.append("untraced reference run failed")
        failed += 1
    return {
        "attempted": sess.attempted + 2,
        "failed": failed,
        "errors": errors,
        "metrics": metrics if traced else {},
        "samples": len(traced),
        "walls": [c["wall_s"] for c in traced],
        "master": sess.master,
    }


def _verify_yield(sess: Session) -> float:
    """Verified near-duplicate pairs per LSH candidate pair, from the
    library's public pair functions at ``minhash_dedup``'s defaults."""
    from polars_quant_spark.operators import dedup

    docs = sess.spark.read.parquet(os.path.join(sess.inp, "documents.parquet"))
    with sess.released(sess.spark):
        cand = dedup.minhash_lsh_candidates(docs).count()
        pairs = dedup.minhash_dedup_pairs(docs).count()
    return pairs / cand if cand else 0.0


def _print_summary(workload: str, seed: int, res: dict) -> None:
    attempted, failed = res["attempted"], res["failed"]
    load = os.getloadavg()
    print(
        f"perfbench {workload} seed={seed} master={res['master']} "
        f"load={load[0]:.2f}/{load[1]:.2f}/{load[2]:.2f} "
        f"samples={res['samples']} check={'pass' if not failed else 'FAIL'}"
    )
    for name, (value, unit) in res["metrics"].items():
        print(f"  {name:40s} {value:14.6g} {unit}")
    print(
        f"  {'fail_frac':40s} {failed / max(1, attempted):14.6g} ratio "
        f"({failed}/{attempted} calls and checks)"
    )
    print(
        f"  medians over {res['samples']} measured calls; no tail percentile "
        "(one needs at least 10 samples beyond it)"
    )
    print(f"  {CALL_WALLS} " + " ".join(f"{w:.6f}" for w in res["walls"]))
    for err in res["errors"]:
        print(f"  error: {err}")


def run_all(seed: int, seconds: float, trace: int) -> int:
    """Every workload in its own process, then one table."""
    code = 0
    rows = []
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode or not lines:
            print(proc.stderr[-2000:], file=sys.stderr)
            code = 1
            continue
        rows.append((wl, json.loads(lines[-1])))
    names = sorted({m for _, r in rows for m in r["metrics"]})
    print(f"{'metric':40s}" + "".join(f"{wl:>18s}" for wl, _ in rows))
    for m in names + ["fail_frac"]:
        cells = []
        for _, r in rows:
            if m == "fail_frac":
                cells.append(f"{r['failed'] / r['attempted']:18.4g}")
            else:
                cells.append(f"{r['metrics'].get(m, {}).get('value', float('nan')):18.6g}")
        print(f"{m:40s}" + "".join(cells))
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, args.trace)
    inp = inputs.ensure(os.path.join(WORK, "inputs"), args.workload, args.seed)
    run = run_traced if args.trace else run_untraced
    res = run(args.workload, args.seed, args.seconds, inp)
    _print_summary(args.workload, args.seed, res)
    if not res["metrics"]:
        print("no call completed", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
