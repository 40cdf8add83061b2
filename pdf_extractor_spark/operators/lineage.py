"""Lineage / checkpoint table + idempotent resume (SURVEY.md §2.10 ST1-ST4).

Generalizes the reference's row-offset checkpoint (scripts/grok.py:335-375,
540-556: state.json {last_processed_row} + batch_{i}_{j}.csv) to the unit of
work that exists at 10^12-turn scale: the INPUT FILE (Iceberg data file /
parquet split). For every processed source file the job appends one lineage
row: run id, snapshot id, file, row counts, per-rule hit metrics, status.

Idempotency contract (crash between output and lineage writes is the failure
mode that matters):
  1. extracted output is written FIRST, partitioned by ``src_key`` with
     dynamic partition overwrite — replaying a file atomically REPLACES its
     own output partition and touches nothing else;
  2. the lineage row is appended LAST (commit point);
  3. resume = the input files minus the src_keys of lineage rows with
     status='done' — only files whose commit never landed are reprocessed.
So any prefix of a crashed run is safe to re-run, and re-running a complete
run is a no-op (tests/test_crash_resume.py crashes the job before and after
each of its Spark actions). On Iceberg both writes collapse into one
transaction; the two-phase order here gives the same guarantee on plain
parquet.

The pending set is taken on the driver. The inventory is the file index of
the input relation, which Spark lists on the driver to plan any scan
(``inputFiles()`` starts no job); the committed keys are one collect of the
lineage table, which holds one row per input file. The extraction scan is
the same relation, pruned at file listing by a filter on the last segment of
``_metadata.file_path``, so committed files are never opened. There is no
DataFrame anti-join fallback for very large inventories (say above 10^5
files): the file index already holds the full listing on the driver, so the
driver-side set difference adds no scale limit of its own; the 1000-file
resume (tests/test_sequential_id.py) runs this path, and no benchmark
workload sits beyond such a threshold.

A run starts three Spark actions: the commit-key collect, the output write
(one more job when salted) and the lineage append, whose per-file stats
come from one two-level aggregation over only the partitions this run wrote
(bounded fanout: #files x #rules).
"""

from __future__ import annotations

import zlib
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schema import LINEAGE, TRANSCRIPTS
from .extract import extract_turns

# the characters Spark's partition writer escapes in a directory name
# (ExternalCatalogUtils.escapePathName, non-Windows). A src_key is
# URL-encoded, so once escaped it holds no glob character and its dir can be
# passed to a reader as a literal path
_PATH_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset("\"#%'*/:=?[\\]^{\x7f")


def src_key_col() -> F.Column:
    """Stable per-file key: the file NAME (not full path) so the key survives
    directory moves; parquet part names are unique within a table. Spelled
    as ``input_file_name()`` spells it (URL-encoded); taken from
    ``_metadata.file_path`` so a filter on it prunes at file listing."""
    return F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)


def _partition_dir(output_dir: str, src_key: str) -> str:
    """The output dir Spark's partition writer makes for ``src_key``."""
    esc = "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in src_key)
    return f"{output_dir.rstrip('/')}/src_key={esc}"


def completed_files(spark: SparkSession, lineage_dir: str) -> set[str]:
    """src_keys whose lineage commit landed (status='done')."""
    try:
        lin = spark.read.schema(LINEAGE).parquet(lineage_dir)
    except AnalysisException:  # no run has committed yet
        return set()
    rows = lin.where(F.col("status") == "done").select("partition_range").collect()
    return {r[0] for r in rows}


def pending_files(
    spark: SparkSession, input_dir: str, lineage_dir: str
) -> tuple[DataFrame, list[str]]:
    """ST1 resume: the input relation, and the sorted src_keys of its files
    with no committed lineage row. The inventory is the relation's file
    index: ``inputFiles()`` spells a file as ``input_file_name()`` does."""
    scan = spark.read.schema(TRANSCRIPTS).parquet(input_dir)
    inventory = {uri.rsplit("/", 1)[-1] for uri in scan.inputFiles()}
    return scan, sorted(inventory - completed_files(spark, lineage_dir))


def _auto_salt(spark: SparkSession, pending_scan: DataFrame) -> int | None:
    """Cheap skew heuristic (r4 VERDICT #5: defense on by default): when the
    PENDING scan has fewer input splits than the session's parallelism — the
    whale-file pathology, where one huge conversation written as one parquet
    file serializes extraction on a single task at ANY core count (bench.py
    --skew) — salt-repartition to full parallelism. The split count is
    Spark's own plan of the listing-pruned scan (``getNumPartitions`` plans
    on the driver, no job), so it sizes the pending subset, not the whole
    table: a whole-table count converges to >= cores as the table grows and
    would skip the defense on exactly the incremental runs it targets
    (regression-pinned in tests/test_lineage.py).

    Known limit (shared with any split-count gate): a single pending file
    whose WRITER produced one giant row group plans as many splits yet
    still extracts in one task (byte-range splits only yield rows for row
    groups starting in-range) — file size cannot see row-group geometry.
    Force ``salt_partitions=N`` for inputs from such writers."""
    cores = spark.sparkContext.defaultParallelism
    return cores if pending_scan.rdd.getNumPartitions() < cores else None


def run_incremental(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    lineage_dir: str,
    run_id: str,
    snapshot_id: str = "local",
    salt_partitions: int | None | str = "auto",
) -> dict:
    """Process only pending input files; write extracted output (dynamic
    partition overwrite by src_key) then commit lineage rows. Returns summary
    counts. Safe to call repeatedly / after a crash at any point.

    ``salt_partitions``: "auto" (default) applies the salted-conv_id skew
    defense only when the pending scan is under-split (_auto_salt above); an
    int forces that many salted partitions; None disables (the pre-r5
    behavior). Extraction is per-turn, so salting changes file layout and
    task balance, never values — pinned by tests/test_lineage.py."""
    scan, pending = pending_files(spark, input_dir, lineage_dir)
    if not pending:
        return {"files": 0, "rows": 0}
    key = src_key_col()
    transcripts = scan.where(key.isin(pending)).withColumn("src_key", key)
    if salt_partitions == "auto":
        salt_partitions = _auto_salt(spark, transcripts)
    extracted = extract_turns(
        transcripts,
        salt_partitions=int(salt_partitions) if salt_partitions else None,
        carry=("src_key",),
    )

    # dynamic overwrite scoped to THIS write only — leaking it session-wide
    # would silently change later overwrite semantics for other writers.
    # The write reports the src_keys it wrote: a pending file with no rows
    # has no partition to read back, and commits with zero counts, so a
    # complete run is a no-op on re-run. (A driver-built DataFrame is made
    # only for such files: an empty one still costs a Python task.)
    written = Observation("written")
    extracted.observe(written, F.collect_set("src_key").alias("keys")).write.mode(
        "overwrite"
    ).partitionBy("src_key").option("partitionOverwriteMode", "dynamic").parquet(output_dir)
    keys = written.get["keys"]
    empty = sorted(set(pending) - set(keys))
    stats = []
    if empty:
        stats.append(spark.createDataFrame(
            [(k, 0, 0, {}) for k in empty],
            "src_key string, row_count long, valid_count long, rule_hit_metrics map<string,long>",
        ))
    if keys:
        # metrics from the WRITTEN output (what was committed, not what was
        # planned), read from only this run's partitions: per-file row and
        # valid counts and per-rule hit totals in one aggregation, where a
        # row with k rule hits explodes to k rows and counts once, at pos 0
        out = (
            spark.read.schema("valid boolean, rule_hits map<string,int>, src_key string")
            .option("basePath", output_dir)
            .parquet(*(_partition_dir(output_dir, k) for k in keys))
        )
        first = F.coalesce(F.col("pos") == 0, F.lit(True))
        stats.append(
            out.select("src_key", "valid", F.posexplode_outer("rule_hits").alias("pos", "rule", "n"))
            .groupBy("src_key", "rule")
            .agg(
                F.count_if(first).alias("rows"),
                F.count_if(first & F.col("valid")).alias("valid"),
                F.sum("n").cast("long").alias("n"),
            )
            .groupBy("src_key")
            .agg(
                F.sum("rows").alias("row_count"),
                F.sum("valid").alias("valid_count"),
                F.map_from_entries(
                    F.array_sort(
                        F.collect_list(F.when(F.col("rule").isNotNull(), F.struct("rule", "n")))
                    )
                ).alias("rule_hit_metrics"),
            )
        )
    lineage = reduce(DataFrame.unionByName, stats).select(
        F.lit(run_id).alias("run_id"),
        F.lit(snapshot_id).alias("snapshot_id"),
        F.pmod(F.crc32(F.col("src_key")), F.lit(2147483647)).cast("int").alias("partition_id"),
        F.col("src_key").alias("partition_range"),
        "row_count",
        "valid_count",
        "rule_hit_metrics",
        F.lit("done").alias("status"),
    )
    committed = Observation("committed")
    lineage.observe(committed, F.sum("row_count").alias("rows")).write.mode("append").parquet(
        lineage_dir
    )
    return {"files": len(pending), "rows": int(committed.get["rows"] or 0)}


def run_key(input_dir: str, snapshot_id: str) -> str:
    """Deterministic run id from input identity (re-runs share lineage)."""
    return f"run_{zlib.crc32(f'{input_dir}:{snapshot_id}'.encode()):08x}"
