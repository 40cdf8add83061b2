"""with_sequential_id_distributed must produce EXACTLY the ids of the
unpartitioned-window formulation (R21/W5 parity) without a single-reducer
window — plus a lineage resume run at >=10^3 input files (the module's own
documented scale unit) proving the broadcast-semi-join resume path."""

from __future__ import annotations

import pyspark.sql.functions as F

from pdf_extractor_spark.operators.lineage import pending_files, run_incremental
from pdf_extractor_spark.operators.order import (
    with_sequential_id,
    with_sequential_id_distributed,
)


def _ids(df, id_col="seq_id"):
    return {
        tuple(r)
        for r in df.select("conv_id", "turn_idx", id_col).collect()
    }


def test_distributed_ids_equal_window_ids(spark):
    df = (
        spark.range(5000)
        .select(
            F.concat(F.lit("c"), (F.col("id") % 37).cast("string")).alias("conv_id"),
            (F.col("id") / 37).cast("int").alias("turn_idx"),
            F.col("id").alias("payload"),
        )
        .repartition(16)  # scrambled physical layout on purpose
    )
    base = _ids(with_sequential_id(df))
    dist = _ids(with_sequential_id_distributed(df, num_partitions=8))
    assert dist == base
    # dense 1..N
    seqs = sorted(s for (_, _, s) in dist)
    assert seqs == list(range(1, 5001))


def test_distributed_ids_single_partition_edge(spark):
    df = spark.range(3).select(
        F.lit("only").alias("conv_id"), F.col("id").cast("int").alias("turn_idx")
    )
    dist = _ids(with_sequential_id_distributed(df, num_partitions=4))
    assert dist == {("only", 0, 1), ("only", 1, 2), ("only", 2, 3)}


def test_lineage_resume_at_1000_files(spark, tmp_path):
    """ST1 at the documented scale unit: 1000 input files; a partially
    committed run resumes exactly the uncommitted files (pending set from
    the file index, scan pruned at file listing)."""
    input_dir = str(tmp_path / "input")
    (
        spark.range(4000)
        .select(
            F.concat(F.lit("conv"), (F.col("id") % 997).cast("string")).alias("conv_id"),
            (F.col("id") / 997).cast("int").alias("turn_idx"),
            F.lit("assistant").alias("role"),
            F.concat(F.lit("turn text "), F.col("id").cast("string")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
        .repartition(1000)
        .write.parquet(input_dir)
    )
    out_dir, lin_dir = str(tmp_path / "out"), str(tmp_path / "lineage")
    assert len(pending_files(spark, input_dir, lin_dir)[1]) == 1000
    s1 = run_incremental(spark, input_dir, out_dir, lin_dir, run_id="big1")
    assert s1["files"] == 1000 and s1["rows"] == 4000
    # drop 25 lineage commits -> exactly those files pend, and the resume
    # replays only them
    lin = spark.read.parquet(lin_dir)
    victims = {r[0] for r in lin.select("partition_range").limit(25).collect()}
    lin.where(~F.col("partition_range").isin(*victims)).write.mode("overwrite").parquet(
        lin_dir + "_p"
    )
    _, pend = pending_files(spark, input_dir, lin_dir + "_p")
    assert set(pend) == victims
    s2 = run_incremental(spark, input_dir, out_dir, lin_dir + "_p", run_id="big2")
    assert s2["files"] == 25
    out = spark.read.parquet(out_dir)
    assert out.count() == 4000
    assert out.select("conv_id", "turn_idx").distinct().count() == 4000
