"""spark-submit entry point for the extraction job (north_rule deployment).

Usage (cluster — spark-submit takes a script path, not ``-m``):
    spark-submit --py-files html_parser_spark.zip \\
        html_parser_spark/job/run.py \\
        --input  /warehouse/pages          \\
        --output /warehouse/extracted      \\
        --resume                           \\
        --host-salted --salt 16

or locally:
    python -m html_parser_spark.job.run --input ... --output ... [--resume]

Behavior per north_rule:
- reads the pages table (parquet dir; Iceberg catalog name also accepted
  when the runtime ships the Iceberg jars — ``--format iceberg``),
- optional ``--resume`` anti-joins already-committed urls (idempotent
  restart from the last committed snapshot),
- map-only extraction (no shuffle of page bytes) unless ``--host-salted``
  opts into the skew repartition,
- writes the extracted table + snapshot manifest (atomic rename commit)
  and a metrics side table,
- prints the commit, then one line with the write_snapshot and metrics
  seconds and the number of Spark jobs the run started.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import uuid


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="html_parser_spark.job.run",
                                description="PySpark page-extraction job")
    p.add_argument("--input", required=True, help="pages table path (parquet dir)")
    p.add_argument("--output", required=True, help="extracted table dir")
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--resume", action="store_true",
                   help="skip urls already committed in --output snapshots")
    p.add_argument("--host-salted", action="store_true",
                   help="repartition on (host, salt) before the UDF (skew)")
    p.add_argument("--salt", type=int, default=16)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--run-id", default=None)
    p.add_argument("--cores", type=int, default=None,
                   help="local-mode cores (ignored under a real cluster "
                        "master); default: SPARK_GRAFT_CPUS, else the "
                        "CPUs this process may run on")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    try:
        from . import pipeline as P
    except ImportError:
        # spark-submit executes this file as a top-level script (no package
        # context); the zip shipped via --py-files provides the absolute path.
        from html_parser_spark.job import pipeline as P

    spark = P.build_session(app="html-parser-extract", cores=args.cores)
    sc = spark.sparkContext
    group = f"html-parser-extract-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "html_parser_spark.job.run")
    try:
        if args.format == "iceberg":
            pages = spark.read.format("iceberg").load(args.input)
        else:
            # The pages schema is known: reading with it starts no
            # schema-inference job.
            pages = spark.read.schema(P.PAGES_SCHEMA).parquet(args.input)
        if args.resume:
            pages = P.resume_remaining(pages, args.output)
        extracted = P.extract_pages(
            pages, partitions=args.partitions, salt=args.salt,
            host_salted=args.host_salted,
        )
        run_id = args.run_id or uuid.uuid4().hex[:12]
        t0 = time.perf_counter()
        manifest = P.write_snapshot(extracted, args.output, run_id)
        t1 = time.perf_counter()
        metrics = P.metrics_from_extracted(
            P.committed_table(spark, args.output))
        metrics.write.mode("overwrite").parquet(
            os.path.join(args.output, "_metrics"))
        t2 = time.perf_counter()
        print(f"committed snapshot {manifest['snapshot_id']} "
              f"run_id={run_id} rows={manifest['rows']}")
        # Where the run's fixed cost went: write_snapshot includes the
        # extraction itself (the write is what runs it).
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(f"write_snapshot_s={t1 - t0:.2f} metrics_s={t2 - t1:.2f} "
              f"spark_jobs={jobs}")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
