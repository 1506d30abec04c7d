#!/usr/bin/env python3
"""Regenerate expected_hashes.json: the committed result hashes of the
llm_corpus queries at the scales the benchmark and its self-tests use.

    python3 perfbench/record_hashes.py

Each query runs once in the form the benchmark times.  Where that form has
a DuckDB twin, the twin's hash must agree, so the table is anchored to an
independent engine; the one raw-form query (text_bpe_merges) is recorded
from Spark and must repeat across two runs.  Rerun only when the data
generator or a query's definition changes on purpose.
"""

from __future__ import annotations

import json
import os
import sys

import run

SCALES = (0.01, 0.001)


def main() -> int:
    run.pin_environment(traced=False)
    sys.path[:0] = [run.ROOT]
    import datagen
    import spans
    import workloads as wl
    from imdb_top_250_etl_pipeline_spark.session import get_spark

    data = os.path.join(run.WORK, "data")
    table = {}
    for sf in SCALES:
        sf_dir = datagen.ensure_tables(data, sf)
        os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
        spark = get_spark("perfbench-record")
        w = wl.QueryWorkload(wl.LLM_CORPUS, sf_dir, sf_dir, {}, traced=False)
        w.setup(spark, spans.Tracer())
        hashes = []
        for p in range(2):
            ops = wl.Ops()
            w.run_pass(spark, spans.Tracer(), p, ops, check=True)
            if ops.failed:
                print(f"sf{sf:g}: failed {ops.failed}", file=sys.stderr)
                return 1
            hashes.append(dict(w.hashes))
        spark.stop()
        if hashes[0] != hashes[1]:
            print(f"sf{sf:g}: hashes differ between runs", file=sys.stderr)
            return 1
        duck = w.duckdb_hashes()
        bad = [n for n, h in duck.items() if hashes[0][n] != h]
        if bad:
            print(f"sf{sf:g}: Spark and DuckDB disagree on {bad}", file=sys.stderr)
            return 1
        table[f"sf{sf:g}"] = hashes[0]
    with open(os.path.join(run.HERE, "expected_hashes.json"), "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
