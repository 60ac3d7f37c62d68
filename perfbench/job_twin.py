#!/usr/bin/env python
"""Traced twin of ``integration/spark_job.py --query``.

Makes the same four calls as the job (``get_spark``, ``registry.all_specs``,
the query's spec function and the parquet write), with a timer around each
and the layer wrappers installed before the registry loads. Prints one
JSON line of per-layer counters for this job process as its last line of
standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--query", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from layers import StatusReader, Tracer, install_wrappers

    tracer = Tracer()
    install_wrappers(tracer)
    from nipd_spark import registry
    from nipd_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(f"nipd-job-{args.query}")
    with tracer.span("registry.all_specs"):
        spec = registry.all_specs()[args.query]
    sc = spark.sparkContext
    sc.setJobGroup("build", args.query)
    with tracer.span("queries.build"):
        df = spec.fn(spark, args.sf_dir)
    conf = {
        "catalog.shuffle_partitions": float(spark.conf.get("spark.sql.shuffle.partitions")),
        "catalog.max_partition_bytes": float(
            spark.conf.get("spark.sql.files.maxPartitionBytes").rstrip("b")
        ),
    }
    sc.setJobGroup("write", args.query)
    with tracer.span("integration.write"):
        df.write.mode("overwrite").parquet(args.out)
    t0 = time.perf_counter()
    reader = StatusReader(spark)
    counts = reader.read(["build", "write"])
    counts["queries.build_jobs"] = len(reader.job_ids("build"))
    counts["trace.read_s"] = time.perf_counter() - t0
    counts.update(tracer.counters)
    counts["spark.action_s"] = counts["integration.write_s"]
    counts["integration.bytes_written"] = _dir_bytes(args.out)
    counts.update(conf)
    print(json.dumps(counts))


if __name__ == "__main__":
    main()
