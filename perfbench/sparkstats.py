"""Spark's own counters, read from outside the package.

Jobs and stages come from the Spark UI's REST API (the same pull as
``tools/profile_query.py``) and are attributed to benchmark phases by
job group; jobs that Spark submits under its own group (streaming
micro-batches) fall back to the phase whose wall-clock window holds
their submission time. Codegen counters come from the JVM's
``CodegenMetrics`` registry, and peak memory from the driver JVM's
``VmHWM``.
"""

from __future__ import annotations

import json
import urllib.request
from datetime import datetime, timezone


# the UI is local: never route it through an http_proxy from the environment
_LOCAL = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _rest(sc, path: str):
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with _LOCAL.open(url, timeout=30) as r:
        return json.loads(r.read())


def _epoch(ts: str) -> float:
    # e.g. "2026-10-17T03:19:54.665GMT"
    t = datetime.strptime(ts.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=timezone.utc).timestamp()


def settle(sc) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store (and the REST API on top of it) is complete."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def phase_counters(sc, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per-phase job/stage/task counters.

    ``windows`` maps each phase (its job group) to its (start, end)
    epoch seconds."""
    settle(sc)
    stages = {
        s["stageId"]: s for s in _rest(sc, "stages") if s["status"] == "COMPLETE"
    }
    out = {
        p: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "input_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0,
        }
        for p in windows
    }
    for job in _rest(sc, "jobs"):
        phase = job.get("jobGroup")
        if phase not in out:
            t = _epoch(job["submissionTime"])
            phase = next((p for p, (a, b) in windows.items() if a <= t <= b), None)
        if phase is None:
            continue
        c = out[phase]
        c["jobs"] += 1
        for sid in job["stageIds"]:
            s = stages.get(sid)
            if s is None:  # skipped (shuffle reuse) or not complete
                continue
            c["stages"] += 1
            c["tasks"] += s["numCompleteTasks"]
            c["executor_run_s"] += s["executorRunTime"] / 1e3
            c["executor_cpu_s"] += s["executorCpuTime"] / 1e9
            c["gc_s"] += s["jvmGcTime"] / 1e3
            c["input_mb"] += s["inputBytes"] / 1e6
            c["shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
            c["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
    return out


def _hist_total(jvm, h) -> tuple[int, float]:
    snap = h.getSnapshot()
    # one py4j round trip for the whole sample array
    text = jvm.java.util.Arrays.toString(snap.getValues()).strip("[]")
    values = [int(v) for v in text.split(",")] if text else []
    n = h.getCount()
    # The reservoir keeps every sample until it fills (1028), then a
    # weighted sample; past that the total is estimated from the mean.
    total = float(sum(values)) if len(values) == n else snap.getMean() * n
    return n, total


def codegen(sc) -> dict[str, float]:
    """Cumulative whole-JVM codegen counters (take deltas)."""
    cm = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    n, ms = _hist_total(sc._jvm, cm.METRIC_COMPILATION_TIME())
    _, class_bytes = _hist_total(sc._jvm, cm.METRIC_GENERATED_CLASS_BYTECODE_SIZE())
    return {"compile_n": n, "compile_ms": ms, "class_bytes": class_bytes}


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def clear_codegen_cache(sc) -> None:
    """Empty the JVM-wide cache of compiled codegen classes, so that a
    pass compiles what a fresh JVM would. The cache is private to
    ``CodeGenerator``; it is reached by reflection."""
    jvm = sc._jvm
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    module = cls.getField("MODULE$").get(None)
    getter = next(m for m in cls.getDeclaredMethods() if m.getName() == "cache")
    getter.setAccessible(True)
    getter.invoke(module, None).invalidateAll()


def drop_persisted(sc) -> None:
    """Unpersist every persisted or locally checkpointed RDD, blocking
    until the blocks are gone."""
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
