"""Benchmark inputs: the repo's deterministic generator, laid out like
the test tables of TESTDATA.md.

``tools/gen_sf.py`` synthesizes every table as a pure function of
(table, key, field), so the same scale factor always yields the same
rows. Spark writes each table as a directory of part files with
non-null columns; the catalog was tuned on single-file, single
row-group, all-nullable tables (scan fan-out sizing reads the file
size and row-group count), so the generated tables are rewritten into
that layout with pyarrow.

Run as a script to build the data into ``<build dir>/data/sf<sf>``; the
benchmark calls it in a subprocess once per checkout.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

from perfbench import env

# sf0.01: a cold batch takes ~20-25 s and a whole run under a minute;
# at sf0.1 dedup_pagerank alone takes ~48 s cold.
SF = 0.01


def data_dir() -> str:
    return os.path.join(env.build_dir(), "data", f"sf{SF}")


def _marker() -> str:
    return data_dir() + ".json"


def ready() -> bool:
    return os.path.exists(_marker())


def _compact(stage: str, out: str) -> dict[str, int]:
    """Rewrite each generated table directory as one nullable,
    single-row-group parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {}
    for table_dir in sorted(glob.glob(os.path.join(stage, "*.parquet"))):
        parts = sorted(glob.glob(os.path.join(table_dir, "part-*.parquet")))
        table = pa.concat_tables(pq.read_table(p) for p in parts)
        schema = pa.schema([f.with_nullable(True) for f in table.schema])
        table = table.cast(schema)
        name = os.path.basename(table_dir)
        pq.write_table(
            table, os.path.join(out, name), row_group_size=max(table.num_rows, 1)
        )
        rows[name[: -len(".parquet")]] = table.num_rows
    return rows


def build() -> None:
    """Generate the tables (no-op when already built)."""
    if ready():
        return
    sys.path.insert(0, os.path.join(env.REPO, "tools"))
    from gen_sf import gen_tables

    from hummingbirddatapipeline_spark.session import get_spark

    out = data_dir()
    stage = out + ".stage"
    for d in (out, stage):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out)
    t0 = time.perf_counter()
    spark = get_spark("perfbench-data")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        gen_tables(spark, SF, stage)
        calibration = _calibrate(spark)
    finally:
        spark.stop()
    rows = _compact(stage, out)
    shutil.rmtree(stage)
    info = {
        "sf": SF,
        "rows": rows,
        "build_s": time.perf_counter() - t0,
        "calibration": calibration,
    }
    with open(_marker(), "w") as f:
        json.dump(info, f)


def info() -> dict:
    with open(_marker()) as f:
        return json.load(f)


def _calibrate(spark) -> dict[str, float]:
    """``bench.py``'s two fixed machine probes (CPU range-sum, small
    shuffle), one pass each: metadata that tells a slow machine from a
    slow commit."""
    t0 = time.perf_counter()
    spark.range(0, 4_800_000_000, 1, 32).selectExpr(
        "sum((id % 1000003) * 2654435761 % 1000000007) AS s"
    ).collect()
    t1 = time.perf_counter()
    (
        spark.range(0, 16_000_000, 1, 32)
        .selectExpr("id % 65536 AS k", "id AS v")
        .groupBy("k")
        .sum("v")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    t2 = time.perf_counter()
    return {"calib_cpu_sec": t1 - t0, "calib_shuffle_sec": t2 - t1}


if __name__ == "__main__":
    tmp = env.make_tmp()
    try:
        env.configure(tmp)
        build()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
