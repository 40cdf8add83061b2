#!/usr/bin/env python
"""Ingest job: land transcript dumps in any supported container (parquet /
json / csv) onto the CANONICAL parquet transcript table, with corrupt input
lines written to a quarantine sidecar instead of vanishing.

Usage:
    spark-submit --py-files dist/pdf_extractor_spark.zip jobs/ingest_job.py \
        --input /dumps/day1 --format json --output /tables/transcripts \
        [--quarantine /tables/transcripts_corrupt]

Pipeline shape: ingest (this job: any container -> canonical schema-enforced
table) then extract (jobs/extract_job.py: incremental over the canonical
table). Keeping the containers at the edge means the resumable extraction
path stays a single-format, schema-stable scan.

Prints one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--format", default="json", choices=("parquet", "json", "csv"))
    p.add_argument("--output", required=True)
    p.add_argument("--quarantine", default=None)
    args = p.parse_args()

    from pdf_extractor_spark.schema import TRANSCRIPTS
    from pdf_extractor_spark.session import get_spark
    from pdf_extractor_spark.sources.readers import read_transcripts

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def append_counted(df, path: str) -> int:
        """Append ``df`` to ``path``; its row count rides the write itself
        via observe() (the split_extracted pattern): no second end-to-end
        parse of the input."""
        obs = Observation("rows")
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(path)
        return obs.get["n"]

    spark = get_spark("ingest_job")
    good, quarantine = read_transcripts(spark, args.input, args.format)
    rows_ingested = append_counted(good, args.output)
    # the cumulative post-append table size is reported too, so repeated
    # runs stay unambiguous; with the explicit schema no inference job runs
    # and the count reads parquet metadata, not data
    n_table = spark.read.schema(TRANSCRIPTS).parquet(args.output).count()
    if args.quarantine:
        n_bad = append_counted(quarantine, args.quarantine)
    else:
        n_bad = quarantine.count()
    dropped = n_bad > 0 and not args.quarantine
    if dropped:
        # the module contract says corrupt lines never vanish silently: with
        # no --quarantine sink they ARE dropped, so say so loudly in both
        # streams rather than bury it in a count
        print(
            f"WARNING: {n_bad} corrupt lines DROPPED (no --quarantine path "
            "given); re-run with --quarantine to keep them",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "format": args.format,
                "rows_ingested": rows_ingested,
                "table_rows": n_table,
                "corrupt_lines": n_bad,
                "corrupt_lines_dropped": dropped,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
