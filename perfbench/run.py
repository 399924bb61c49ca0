"""Run one benchmark workload as a pipeline batch and print its metrics.

    python3 perfbench/run.py --workload pipeline_write --seed 1 \\
        --seconds 5 --trace 0

One process, one client, ``local[nproc]``, one session. Set-up starts
the JVM and session and then runs the workload's batch once as the
fixed warm-up, so that the cold JVM's first-use costs (class loading,
JIT) land in ``setup_s``. Then timed passes of the batch repeat, at
least the workload's minimum (workloads.py), until their batch times
add up to ``--seconds``. Every pass starts with an empty prepared-plan
cache, an empty codegen cache and no checkpoints, and runs every step
in the order the seed fixes, each issued after the previous one
returns. Metrics are medians over passes. The first timed pass's
outputs are checked after it, outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the
separate traced run: it wraps the package's layers (perfbench/trace.py)
and pulls Spark's counters per phase, and prints the per-layer metrics.
The last stdout line is the result object; the line before it and a
file under the build dir hold the per-step detail and the run's stamp.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env  # noqa: E402
from perfbench.workloads import MIN_PASSES, WORKLOADS, ordered  # noqa: E402

DEFAULT_SEED = 1
PACKAGE = os.path.join(env.REPO, "hummingbirddatapipeline_spark")
NEEDED = [
    PACKAGE,
    os.path.join(env.REPO, "tools", "gen_sf.py"),
    os.path.join(env.REPO, "tools", "check_oracle.py"),
]

END_TO_END = {
    "wall_s": "s",
    "setup_s": "s",
    "query_p50_s": "s",
    "query_max_s": "s",
    "pass_frac": "frac",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.tune_for_sf_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "catalog.build_s": "s",
    "catalog.build_self_s": "s",
    "catalog.build_jobs": "count",
    "catalog.build_tasks": "count",
    "catalog.build_executor_run_s": "s",
    "catalog.build_slot_busy_frac": "frac",
    "operators.materialize_n": "count",
    "operators.materialize_s": "s",
    "operators.driver_actions_n": "count",
    "operators.driver_actions_s": "s",
    "scoring.apply_spec_s": "s",
    "scoring.exprs_n": "count",
    "tables.load_n": "count",
    "tables.load_s": "s",
    "tables.write_s": "s",
    "tables.write_mb": "MB",
    "tables.write_files": "count",
    "streaming.run_available_now_s": "s",
    "streaming.microbatches_n": "count",
    "exec.sink_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.slot_busy_frac": "frac",
    "codegen.compile_n": "count",
    "codegen.compile_ms": "ms",
    "codegen.class_bytes": "bytes",
    "trace.wall_s": "s",
}


def _args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--record-fingerprints",
        action="store_true",
        help="store the outputs of steps without an oracle as the expected ones",
    )
    return ap.parse_args(argv)


def _ensure_data() -> float:
    """Build the inputs once per checkout; returns the seconds spent."""
    from perfbench import data

    if data.ready():
        return 0.0
    t0 = time.perf_counter()
    subprocess.run([sys.executable, "-m", "perfbench.data"], cwd=env.REPO, check=True)
    return time.perf_counter() - t0


def _stamp(args) -> dict:
    import pyspark

    from perfbench import data

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=env.REPO,
            capture_output=True,
            text=True,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(env.REPO)},
        ).stdout.strip() or None
    except OSError:
        sha = None
    src = hashlib.sha256()
    for root, _, files in sorted(os.walk(PACKAGE)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    src.update(f.encode() + b"\0" + fh.read())
    built = data.info()
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": env.cores(),
        "git_sha": sha,
        "source_sha256": src.hexdigest(),
        "sf": built["sf"],
        "pyspark": pyspark.__version__,
        # fixed machine probes, run once when the inputs were built
        "calibration": built["calibration"],
    }


def _session_down(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF
    proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _dir_size(path: str) -> tuple[float, int]:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
    return n_bytes / 1e6, n_files


class _NoTrace:
    def span(self, name, probe=None, **attrs):
        return nullcontext()


def _fresh_state(spark) -> None:
    """What every pass starts from: an empty prepared-plan cache, an
    empty codegen cache, no checkpoints or persisted frames left by the
    pass before, and a collected heap (so that no pass inherits the
    garbage of the one before)."""
    from hummingbirddatapipeline_spark import catalog

    from perfbench import sparkstats

    catalog.invalidate()
    spark.catalog.clearCache()
    sparkstats.drop_persisted(spark.sparkContext)
    sparkstats.clear_codegen_cache(spark.sparkContext)
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def _session_up(args, sf_dir: str, t_start: float):
    """A fresh session, tuned and warmed up; returns it with the set-up
    timings (``setup_s`` counts from ``t_start``).

    The fixed warm-up action is one untimed, unchecked pass of the
    workload's batch: it pays the cold JVM's first-use costs, which
    would otherwise fall unevenly on whichever steps the seed puts
    first."""
    from hummingbirddatapipeline_spark.session import get_spark, tune_for_sf

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    tune_for_sf(spark, sf_dir)
    t2 = time.perf_counter()
    try:
        warm = run_pass(args, spark, sf_dir, "warm-up", False, None)
    except BaseException:
        _session_down(spark)
        raise
    setup = {
        "setup_s": time.perf_counter() - t_start,
        "warm_up_wall_s": warm["wall_s"],
        "layers": {"session.get_spark_s": t1 - t0, "session.tune_for_sf_s": t2 - t1},
    }
    return spark, setup


def _run_batch(args, batch, label, tracer, probe) -> dict:
    """Every step, each issued after the previous one returns. A step
    that raises is recorded and the batch goes on."""
    sc = batch.spark.sparkContext
    out = {"steps": [], "built": [], "windows": {}}
    b0 = time.perf_counter()
    for step in ordered(args.workload, args.seed):
        rec = {"step": step.name}
        df = None
        try:
            with tracer.span("step", step=step.name):
                sc.setJobGroup(f"{label}/{step.name}:build", step.name)
                w0, a = time.time(), time.perf_counter()
                with tracer.span("catalog.build", probe=probe):
                    df = batch.build(step)
                w1, b = time.time(), time.perf_counter()
                sc.setJobGroup(f"{label}/{step.name}:sink", step.name)
                with tracer.span("sink", probe=probe):
                    batch.sink(step, df)
                w2, c = time.time(), time.perf_counter()
            rec.update(build_s=b - a, sink_s=c - b)
            out["windows"][f"{label}/{step.name}:build"] = (w0, w1)
            out["windows"][f"{label}/{step.name}:sink"] = (w1, w2)
        except Exception as e:
            traceback.print_exc()
            rec["error"] = repr(e)[:300]
        out["steps"].append(rec)
        out["built"].append((step, df, rec))
    out["wall_s"] = time.perf_counter() - b0
    sc.setJobGroup(f"{label}/after-batch", "output checks")
    return out


def run_pass(
    args, spark, sf_dir: str, label: str, traced: bool, fingerprints: dict | None
) -> dict:
    """One pass of the batch from a fresh state, traced or not; its
    outputs are checked against ``fingerprints`` and the oracles unless
    that is None."""
    from perfbench import sparkstats
    from perfbench.trace import Tracer, microbatch_listener
    from perfbench.workloads import Batch

    _fresh_state(spark)
    out_dir = tempfile.mkdtemp(prefix="out-")
    try:
        batch = Batch(spark, sf_dir, out_dir)
        p: dict = {}
        if traced:
            sc = spark.sparkContext
            tracer = Tracer()
            listener = microbatch_listener(tracer.counts)
            spark.streams.addListener(listener)
            codegen0 = sparkstats.codegen(sc)
            tracer.install(type(spark.range(1)))
            try:
                run = _run_batch(
                    args,
                    batch,
                    label,
                    tracer,
                    lambda: sparkstats.codegen(sc)["compile_ms"],
                )
            finally:
                tracer.restore()
                sparkstats.settle(sc)  # deliver queued progress events first
                spark.streams.removeListener(listener)
            p["layers"] = _traced_layers(spark, tracer, run, codegen0, out_dir)
            p["phases"] = run["phases"]
            p["spans"] = [
                {**s, "start": s["start"] - T_PROCESS, "end": s["end"] - T_PROCESS}
                for s in tracer.spans
            ]
        else:
            run = _run_batch(args, batch, label, _NoTrace(), None)
        p["steps"], p["wall_s"] = run["steps"], run["wall_s"]
        if fingerprints is not None:
            c0 = time.perf_counter()
            for step, df, rec in run["built"]:
                if "error" not in rec:
                    rec["check"] = _check(args, batch, step, df, sf_dir, fingerprints)
            p["check_s"] = time.perf_counter() - c0
        return p
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def _check(args, batch, step, df, sf_dir: str, fingerprints: dict) -> str | None:
    """None when the step's output is right, else why not."""
    from perfbench import check
    from hummingbirddatapipeline_spark.catalog import ORACLES

    try:
        result = batch.result(step, df)
        sql = ORACLES.get(step.expect)
        if sql is not None:
            return check.mismatch(
                check.frame_digest(result), check.oracle_digest(sf_dir, step.expect, sql)
            )
        got = check.frame_digest(result, float_digits=9)
        if args.record_fingerprints:
            fingerprints[step.expect] = got
            return None
        if step.expect not in fingerprints:
            return f"no recorded fingerprint for {step.expect}"
        return check.mismatch(got, fingerprints[step.expect])
    except Exception as e:  # a check that cannot run is a failed check
        traceback.print_exc()
        return f"check raised {e!r}"[:300]


def _traced_layers(spark, tracer, run, codegen0, out_dir) -> dict[str, float]:
    """The per-layer metrics of one traced batch."""
    from pyspark import SparkContext

    from perfbench import sparkstats

    sc = spark.sparkContext
    cores = env.cores()
    per_phase = run["phases"] = sparkstats.phase_counters(sc, run["windows"])
    codegen1 = sparkstats.codegen(sc)
    spans = tracer.layer_times()

    def span_s(name: str) -> float:
        return spans.get(name, {}).get("s", 0.0)

    def span_n(name: str) -> int:
        return spans.get(name, {}).get("n", 0)

    def total(phase: str, key: str) -> float:
        return sum(c[key] for p, c in per_phase.items() if p.endswith(f":{phase}"))

    build_s = sum(r.get("build_s", 0.0) for r in run["steps"])
    sink_s = sum(r.get("sink_s", 0.0) for r in run["steps"])
    write_mb, write_files = _dir_size(out_dir)
    layers = {
        "session.jvm_peak_rss_mb": sparkstats.jvm_peak_rss_mb(SparkContext._gateway.proc.pid),
        "catalog.build_s": build_s,
        "catalog.build_self_s": spans.get("catalog.build", {}).get("self_s", 0.0),
        "catalog.build_jobs": total("build", "jobs"),
        "catalog.build_tasks": total("build", "tasks"),
        "catalog.build_executor_run_s": total("build", "executor_run_s"),
        "catalog.build_slot_busy_frac": total("build", "executor_run_s") / (build_s * cores),
        "operators.materialize_n": span_n("operators.materialize"),
        "operators.materialize_s": span_s("operators.materialize"),
        "operators.driver_actions_n": span_n("operators.driver_action"),
        "operators.driver_actions_s": span_s("operators.driver_action"),
        "scoring.apply_spec_s": span_s("scoring.apply_spec"),
        "scoring.exprs_n": tracer.counts["scoring.exprs_n"],
        "tables.load_n": span_n("tables.load"),
        "tables.load_s": span_s("tables.load"),
        "tables.write_s": span_s("tables.write"),
        "tables.write_mb": write_mb,
        "tables.write_files": write_files,
        "streaming.run_available_now_s": span_s("streaming.run_available_now"),
        "streaming.microbatches_n": tracer.counts["streaming.microbatches_n"],
        "exec.sink_s": sink_s,
        "exec.slot_busy_frac": total("sink", "executor_run_s") / (sink_s * cores),
        "codegen.compile_n": codegen1["compile_n"] - codegen0["compile_n"],
        "codegen.compile_ms": codegen1["compile_ms"] - codegen0["compile_ms"],
        "codegen.class_bytes": codegen1["class_bytes"] - codegen0["class_bytes"],
        "trace.wall_s": run["wall_s"],
    }
    for key in (
        "jobs",
        "stages",
        "tasks",
        "executor_run_s",
        "executor_cpu_s",
        "gc_s",
        "input_mb",
        "shuffle_read_mb",
        "shuffle_write_mb",
    ):
        layers[f"exec.{key}"] = total("sink", key)
    return layers


def summarize(setup: dict, passes: list[dict], trace: bool) -> dict:
    """The result object: medians over the timed passes."""
    recs = [r for p in passes for r in p["steps"]]
    attempted = len(recs)
    failed = sum(1 for r in recs if "error" in r or r.get("check"))
    if trace:
        layers = [{**setup["layers"], **p["layers"]} for p in passes]
        metrics = {
            name: statistics.median(x[name] for x in layers) for name in PER_LAYER
        }
        units = PER_LAYER
    else:
        # each step's median over passes; a failed step has no time
        per_step: dict[str, list[float]] = {}
        for r in recs:
            if "build_s" in r:
                per_step.setdefault(r["step"], []).append(r["build_s"] + r["sink_s"])
        step_s = [statistics.median(v) for v in per_step.values()]
        metrics = {
            "wall_s": statistics.median(p["wall_s"] for p in passes),
            "setup_s": setup["setup_s"],
            "query_p50_s": statistics.median(step_s),
            "query_max_s": max(step_s),
            "pass_frac": (attempted - failed) / attempted,
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    args = _args(argv)
    missing = [p for p in NEEDED if not os.path.exists(p)]
    if missing:
        print(f"perfbench: missing program sources: {missing}", file=sys.stderr)
        return 2
    tmp = env.make_tmp()
    spark = None
    try:
        env.configure(tmp)
        # the one-time input build is not part of set-up
        t_start = T_PROCESS + _ensure_data()
        from perfbench import check, data

        fingerprints = {} if args.record_fingerprints else check.load_fingerprints()
        sf_dir = data.data_dir()
        spark, setup = _session_up(args, sf_dir, t_start)
        passes: list[dict] = []
        # the workload's minimum of timed passes, and more until their
        # batches add up to --seconds; the first one's outputs are checked
        while (
            len(passes) < MIN_PASSES[args.workload]
            or sum(p["wall_s"] for p in passes) < args.seconds
        ):
            label = f"pass{len(passes)}"
            expected = None if passes else fingerprints
            passes.append(
                run_pass(args, spark, sf_dir, label, bool(args.trace), expected)
            )
        result = summarize(setup, passes, bool(args.trace))
        detail = {"stamp": _stamp(args), "setup": setup, "passes": passes}
        out = os.path.join(env.build_dir(), "results")
        os.makedirs(out, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
        with open(os.path.join(out, name), "w") as f:
            json.dump({**detail, "result": result}, f, indent=1)
        if args.record_fingerprints:
            _save_fingerprints(check.FINGERPRINTS, fingerprints)
        summary = {
            "stamp": detail["stamp"],
            "warm_up_wall_s": setup["warm_up_wall_s"],
            "steps": [p["steps"] for p in passes],
        }
        print(json.dumps(summary))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            _session_down(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def _save_fingerprints(path: str, new: dict) -> None:
    try:
        with open(path) as f:
            merged = json.load(f)
    except FileNotFoundError:
        merged = {}
    merged.update(new)
    with open(path, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
