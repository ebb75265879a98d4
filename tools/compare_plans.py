"""Print the normalized logical plans of the tier rollups, for comparing two
checkouts of the engine: a refactor that must not change what Spark runs
should print the same text on both.

    python3 tools/compare_plans.py <checkout> <data_dir> > plans.txt

Run it once per checkout with the same ``data_dir`` (a small synthetic
token table, written on the first run) and ``diff`` the two outputs.
Printed: the analyzed and optimized plans and the output types of
``rollup_from_raw`` (1h, 1d, 1mo), ``rollup_cascade`` (1d, 1mo),
``recombine`` and ``salted_rollup_from_raw`` (1d); the analyzed plan of
``windowed_counts_stream``; ``STORED_SCHEMA`` and ``TIER_SCHEMA_BASEPATH``.
Expression ids, lambda-variable suffixes, watermark UUIDs and object hashes
differ between any two sessions and are normalized away.
"""

from __future__ import annotations

import os
import re
import sys


def _norm(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#N", plan)
    plan = re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID", plan)
    plan = re.sub(r"@[0-9a-f]+\b", "@HASH", plan)
    return re.sub(r"\b([A-Za-z]+)_\d+\b", r"\1_N", plan)


def _show(name, df, optimized=True) -> None:
    qe = df._jdf.queryExecution()
    print(f"=== {name} analyzed\n{_norm(qe.analyzed().toString())}")
    if optimized:
        print(f"=== {name} optimized\n{_norm(qe.optimizedPlan().toString())}")
    print(f"=== {name} types {df.dtypes}")


def main() -> None:
    root, data = sys.argv[1:3]
    sys.path.insert(0, os.path.abspath(root))
    from ingestr_spark import retention
    from ingestr_spark.datagen import synth_tokens
    from ingestr_spark.operators.rollup import (
        recombine,
        rollup_cascade,
        rollup_from_raw,
    )
    from ingestr_spark.operators.skew import salted_rollup_from_raw
    from ingestr_spark.session import get_spark
    from ingestr_spark.streaming.jobs import windowed_counts_stream

    spark = get_spark("compare-plans", master="local[2]", shuffle_partitions=4,
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if not os.path.isdir(data):
            synth_tokens(spark, 2000, max_ntok=16).write.parquet(data)
        raw = spark.read.parquet(data)
        h1 = rollup_from_raw(raw, "1h")
        _show("rollup_from_raw 1h", h1)
        _show("rollup_from_raw 1d", rollup_from_raw(raw, "1d"))
        _show("rollup_from_raw 1mo", rollup_from_raw(raw, "1mo"))
        _show("rollup_cascade 1d", rollup_cascade(h1, "1d"))
        _show("rollup_cascade 1mo",
              rollup_cascade(rollup_cascade(h1, "1d"), "1mo"))
        _show("recombine", recombine(h1.unionByName(h1)))
        _show("salted_rollup_from_raw 1d", salted_rollup_from_raw(raw, "1d"))
        stream = spark.readStream.schema(raw.schema).parquet(data)
        _show("windowed_counts_stream", windowed_counts_stream(stream),
              optimized=False)
        print(f"=== STORED_SCHEMA\n{retention.STORED_SCHEMA}")
        print(f"=== TIER_SCHEMA_BASEPATH\n{retention.TIER_SCHEMA_BASEPATH}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
