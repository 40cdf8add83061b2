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
  3. resume = anti-join the input file list against lineage rows with
     status='done' — only files whose commit never landed are reprocessed.
So any prefix of a crashed run is safe to re-run, and re-running a complete
run is a no-op. On Iceberg both writes collapse into one transaction; the
two-phase order here gives the same guarantee on plain parquet.

Scale notes: the lineage table stays tiny (one row per input file — ~10^6
rows for 100 TB), so the anti-join broadcasts it; metrics aggregation is a
map-side partial agg keyed by src_key (bounded fanout: #files x #rules).
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import TRANSCRIPTS
from .extract import extract_turns


def src_key_col() -> F.Column:
    """Stable per-file key: the file NAME (not full path) so the key survives
    directory moves; parquet part names are unique within a table."""
    return F.element_at(F.split(F.input_file_name(), "/"), -1)


def list_input_files(spark: SparkSession, input_dir: str) -> DataFrame:
    """One row per data file of the input table — the resume work unit.
    Carries the file size (listing metadata, no data columns read) so the
    auto-salt gate can size the pending subset WITHOUT a second pass over
    the table, and without joining on _metadata.file_name — whose raw
    spelling differs from input_file_name's URL-encoded one for files with
    special characters (round-5 review findings #5/#7)."""
    return (
        spark.read.schema(TRANSCRIPTS)
        .parquet(input_dir)
        .select(
            src_key_col().alias("src_key"),
            F.col("_metadata.file_size").alias("bytes"),
        )
        .distinct()
    )


def completed_files(spark: SparkSession, lineage_dir: str) -> DataFrame:
    """src_keys whose lineage commit landed (status='done')."""
    try:
        lin = spark.read.parquet(lineage_dir)
    except Exception:
        return spark.createDataFrame([], "src_key string")
    return (
        lin.where(F.col("status") == "done")
        .select(F.col("partition_range").alias("src_key"))
        .distinct()
    )


def pending_files(spark: SparkSession, input_dir: str, lineage_dir: str) -> DataFrame:
    """ST1 resume: input files anti-joined against completed lineage rows.
    The completed side is tiny -> broadcast anti-join, no shuffle of input."""
    return list_input_files(spark, input_dir).join(
        F.broadcast(completed_files(spark, lineage_dir)), "src_key", "left_anti"
    )


def _auto_salt(spark: SparkSession, pend_df: DataFrame) -> int | None:
    """Cheap skew heuristic (r4 VERDICT #5: defense on by default): when the
    PENDING work would yield fewer input splits than the session's
    parallelism — the whale-file pathology, where one huge conversation
    written as one parquet file serializes extraction on a single task at
    ANY core count (bench.py --skew) — salt-repartition to full
    parallelism. The split estimate must come from the pending SUBSET, not
    the whole-directory scan: as the table grows, the full scan's split
    count converges to >= cores and a whole-scan gate silently disables
    the defense on exactly the incremental runs it targets (round-5 review
    fix, regression-pinned in tests/test_lineage.py). Pending bytes ride
    the listing pass pending_files already makes (no second table scan);
    the estimate mirrors Spark's FilePartition.maxSplitBytes formula
    INCLUDING the bytes-per-core clamp, so a well-split many-small-file
    pending set is not needlessly shuffled. Byte confs are parsed with
    Spark's own parser ('128m', '1g' forms included — a digits-only parse
    turned '256m' into 256 BYTES and silently disabled the defense,
    round-5 review finding #1).

    Known limit (shared with any split-count gate): a single pending file
    whose WRITER produced one giant row group estimates as many splits yet
    still extracts in one task (byte-range splits only yield rows for row
    groups starting in-range) — file size cannot see row-group geometry.
    Force ``salt_partitions=N`` for inputs from such writers."""
    def _bytes_conf(key: str, default: str) -> int:
        raw = str(spark.conf.get(key, default))
        try:
            return int(raw)
        except ValueError:
            return int(
                spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                    raw
                )
            )

    row = pend_df.agg(
        F.sum("bytes").alias("b"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    pending_bytes, n_pending = row["b"] or 0, row["n"] or 0
    max_pb = _bytes_conf("spark.sql.files.maxPartitionBytes", "134217728")
    open_cost = _bytes_conf("spark.sql.files.openCostInBytes", "4194304")
    cores = spark.sparkContext.defaultParallelism
    padded = pending_bytes + n_pending * open_cost
    # FilePartition.maxSplitBytes: bins shrink when the data is small so the
    # scan still uses every core — min(maxPartitionBytes, max(openCost,
    # bytes/defaultParallelism))
    max_split = min(max_pb, max(open_cost, padded // max(1, cores)))
    est_splits = max(1, -(-padded // max(1, max_split)))
    return cores if est_splits < cores else None


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
    defense only when the input is under-split (_auto_salt above); an int
    forces that many salted partitions; None disables (the pre-r5
    behavior). Extraction is per-turn, so salting changes file layout and
    task balance, never values — pinned by tests/test_lineage.py."""
    # the pending set stays a DataFrame end-to-end: at ~10^6 input files a
    # collect()+isin would be a driver-side list and a million-element In
    # expression in the plan; a broadcast left-semi join is the scale shape.
    # localCheckpoint (NOT cache): it materializes the tiny relation ONCE and
    # cuts the lineage-table read out of its plan. With a plain cache, the
    # lineage append below invalidates-and-recomputes every cached plan that
    # reads lineage_dir (CacheManager.recacheByPath), so any post-commit
    # evaluation would see an EMPTY pending set and report zero rows.
    pend_df = pending_files(spark, input_dir, lineage_dir).localCheckpoint(eager=True)
    n_files = pend_df.count()
    if n_files == 0:
        return {"files": 0, "rows": 0}

    scan = spark.read.schema(TRANSCRIPTS).parquet(input_dir)
    transcripts = scan.withColumn("src_key", src_key_col()).join(
        F.broadcast(pend_df), "src_key", "left_semi"
    )
    if salt_partitions == "auto":
        salt_partitions = _auto_salt(spark, pend_df)
    extracted = extract_turns(
        transcripts,
        salt_partitions=int(salt_partitions) if salt_partitions else None,
        carry=("src_key",),
    )

    # dynamic overwrite scoped to THIS write only — leaking it session-wide
    # would silently change later overwrite semantics for other writers
    extracted.write.mode("overwrite").partitionBy("src_key").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(output_dir)

    # metrics from the WRITTEN output (what was committed, not what was
    # planned): per-file row counts, valid counts, per-rule hit totals
    out = spark.read.parquet(output_dir).join(F.broadcast(pend_df), "src_key", "left_semi")
    hits = (
        out.select("src_key", F.explode_outer("rule_hits").alias("rule", "n"))
        .where(F.col("rule").isNotNull())
        .groupBy("src_key", "rule")
        .agg(F.sum("n").cast("long").alias("n"))
        .groupBy("src_key")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("rule", "n")))
            ).alias("rule_hit_metrics")
        )
    )
    # snapshot the per-file stats too (one row per pending file): the
    # summary agg and the lineage-row build must both read the SAME
    # materialized values, evaluated BEFORE the lineage commit
    stats = out.groupBy("src_key").agg(
        F.count("*").alias("row_count"),
        F.sum(F.col("valid").cast("long")).alias("valid_count"),
    ).localCheckpoint(eager=True)
    n_rows = stats.agg(F.sum("row_count")).collect()[0][0] or 0
    lineage = (
        stats.join(hits, "src_key", "left")
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(snapshot_id).alias("snapshot_id"),
            F.pmod(F.crc32(F.col("src_key")), F.lit(2147483647)).cast("int").alias("partition_id"),
            F.col("src_key").alias("partition_range"),
            F.col("row_count").cast("long"),
            F.col("valid_count").cast("long"),
            F.coalesce(
                "rule_hit_metrics",
                F.map_from_entries(F.array().cast("array<struct<rule:string,n:long>>")),
            ).alias("rule_hit_metrics"),
            F.lit("done").alias("status"),
        )
    )
    lineage.write.mode("append").parquet(lineage_dir)
    return {"files": n_files, "rows": int(n_rows)}


def run_key(input_dir: str, snapshot_id: str) -> str:
    """Deterministic run id from input identity (re-runs share lineage)."""
    return f"run_{zlib.crc32(f'{input_dir}:{snapshot_id}'.encode()):08x}"
