#!/usr/bin/env python3
"""Regenerate ``perfbench/expected.json``, the stored expected outputs.

    python3 perfbench/regen_expected.py

For every read-workload op, the digest of the registry's DuckDB
``oracle_sql()`` result on each fixture scale; for ``daily_ingest``, the
shard doc count of the prep-training run (taken from a Spark run of the
current program, since it has no oracle). Run it when the fixtures, the op
lists or an oracle change.
"""

from __future__ import annotations

import io
import json
import os
import sys
import contextlib
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SCALES = ("sf0.01", "sf0.001")


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    from canon import digest
    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.queries import REGISTRY
    from workloads import PREP_FLAGS, READ_WORKLOADS

    names = sorted({n for ops in READ_WORKLOADS.values() for n in ops})
    out: dict = {"prep_training_docs": {}}
    for sf in SCALES:
        con = duckdb.connect()
        for t in catalog.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{BENCH_DIR}/fixtures/{sf}/{t}.parquet'")
        out[sf] = {}
        for name in names:
            rel = con.execute(REGISTRY[name].oracle)
            out[sf][name] = digest([d[0] for d in rel.description], rel.fetchall())
            print(f"{sf} {name}: {out[sf][name]['rows']} rows", file=sys.stderr)
        con.close()

    from spacex_data_pipeline_spark.__main__ import main as cli
    from spacex_data_pipeline_spark.session import build_session

    spark = build_session(app_name="perfbench-regen")
    try:
        for sf in SCALES:
            with tempfile.TemporaryDirectory() as tmp:
                shards = os.path.join(tmp, "shards")
                argv = ["prep-training", "--sf-dir", f"{BENCH_DIR}/fixtures/{sf}",
                        "--out", shards, "--shards", "4", *PREP_FLAGS]
                with contextlib.redirect_stdout(io.StringIO()):
                    if cli(argv, _spark=spark) != 0:
                        raise RuntimeError(f"prep-training failed on {sf}")
                out["prep_training_docs"][sf] = spark.read.parquet(shards).count()
    finally:
        spark.stop()
    with open(os.path.join(BENCH_DIR, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
