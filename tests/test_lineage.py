"""Lineage/checkpoint + idempotent resume (operators/lineage.py, ST1-ST4).

Scenarios:
  1. fresh run processes every input file, output rows == input rows;
  2. immediate re-run is a no-op (nothing pending, no duplicate output);
  3. crash-before-commit (lineage row missing for one file) reprocesses ONLY
     that file and the final output is still exactly-once;
  4. lineage metrics reconcile with the output (row counts, valid counts).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pdf_extractor_spark.operators.lineage import pending_files, run_incremental
from pdf_extractor_spark.schema import TRANSCRIPTS
from pdf_extractor_spark.sources.synth import generate_transcripts


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("lineage")
    input_dir = str(base / "input")
    pdf = generate_transcripts(n_convs=40, seed=42)
    spark.createDataFrame(pdf, schema=TRANSCRIPTS).repartition(4).write.parquet(input_dir)
    return {
        "input": input_dir,
        "output": str(base / "output"),
        "lineage": str(base / "lineage"),
        "n_rows": len(pdf),
    }


def test_fresh_run_processes_all(spark, dirs):
    summary = run_incremental(
        spark, dirs["input"], dirs["output"], dirs["lineage"], run_id="r1"
    )
    assert summary["files"] == 4
    assert summary["rows"] == dirs["n_rows"]
    out = spark.read.parquet(dirs["output"])
    assert out.count() == dirs["n_rows"]
    # exactly one output row per input (conv_id, turn_idx)
    assert out.select("conv_id", "turn_idx").distinct().count() == dirs["n_rows"]


def test_rerun_is_noop(spark, dirs):
    assert pending_files(spark, dirs["input"], dirs["lineage"])[1] == []
    summary = run_incremental(
        spark, dirs["input"], dirs["output"], dirs["lineage"], run_id="r2"
    )
    assert summary == {"files": 0, "rows": 0}
    assert spark.read.parquet(dirs["output"]).count() == dirs["n_rows"]


def test_crash_resume_reprocesses_only_missing(spark, dirs):
    lin = spark.read.parquet(dirs["lineage"])
    victim = lin.select("partition_range").orderBy("partition_range").first()[0]
    survivors = lin.where(F.col("partition_range") != victim)
    # simulate crash-before-commit: rewrite lineage without the victim's row
    survivors.write.mode("overwrite").parquet(dirs["lineage"] + "_partial")
    _, pend = pending_files(spark, dirs["input"], dirs["lineage"] + "_partial")
    assert pend == [victim]
    victim_rows = (
        spark.read.parquet(dirs["output"]).where(F.col("src_key") == victim).count()
    )
    summary = run_incremental(
        spark, dirs["input"], dirs["output"], dirs["lineage"] + "_partial", run_id="r3"
    )
    assert summary["files"] == 1
    # the replay's reported rows must equal the replayed file's output —
    # a regression here once hid behind files-only assertions (the lineage
    # append used to invalidate the cached pending set before the summary agg)
    assert summary["rows"] == victim_rows
    # replay overwrote the victim's partition: still exactly-once overall
    out = spark.read.parquet(dirs["output"])
    assert out.count() == dirs["n_rows"]
    assert out.select("conv_id", "turn_idx").distinct().count() == dirs["n_rows"]


def test_lineage_metrics_reconcile(spark, dirs):
    lin = spark.read.parquet(dirs["lineage"])
    out = spark.read.parquet(dirs["output"])
    assert lin.agg(F.sum("row_count")).first()[0] == dirs["n_rows"]
    assert (
        lin.agg(F.sum("valid_count")).first()[0]
        == out.where("valid").count()
    )
    assert lin.where(F.col("status") != "done").count() == 0
    # per-rule hits in lineage == per-rule hits in output
    lin_hits = (
        lin.select(F.explode("rule_hit_metrics").alias("rule", "n"))
        .groupBy("rule")
        .agg(F.sum("n").alias("n"))
    )
    out_hits = (
        out.select(F.explode("rule_hits").alias("rule", "n"))
        .groupBy("rule")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    assert sorted(map(tuple, lin_hits.collect())) == sorted(map(tuple, out_hits.collect()))


def test_new_files_processed_incrementally(spark, dirs):
    # files that appear AFTER a completed run are the only pending work
    extra = generate_transcripts(n_convs=5, seed=99)
    spark.createDataFrame(extra, schema=TRANSCRIPTS).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["input"])
    summary = run_incremental(
        spark, dirs["input"], dirs["output"], dirs["lineage"], run_id="r4"
    )
    assert summary["files"] == 1
    assert summary["rows"] == len(extra)
    out = spark.read.parquet(dirs["output"])
    assert out.count() == dirs["n_rows"] + len(extra)
    assert pending_files(spark, dirs["input"], dirs["lineage"])[1] == []


def test_auto_salt_defuses_whale_file(spark, tmp_path):
    """r4 VERDICT #5: the production entrypoint applies the salted skew
    defense WITHOUT hand-tuning. A whale conversation written as ONE parquet
    file yields one input split; salt_partitions='auto' must (a) detect the
    under-split scan, (b) spread extraction across tasks — observable as
    multiple part-files under the src_key partition dir — and (c) leave the
    extracted VALUES identical to the undefended run."""
    import pandas as pd

    n = 4000
    pdf = pd.DataFrame(
        {
            "conv_id": ["whale"] * n,
            "turn_idx": pd.array(range(n), dtype="int32"),
            "role": ["user"] * n,
            "text": [f"MEMO REF {i} payment {i % 97}.00" for i in range(n)],
            "tool": [None] * n,
            "ts": pd.Timestamp("2024-01-01"),
        }
    )
    inp = str(tmp_path / "input")
    spark.createDataFrame(pdf, schema=TRANSCRIPTS).coalesce(1).write.parquet(inp)

    outs = {}
    for mode, salt in (("off", None), ("auto", "auto")):
        out = str(tmp_path / f"out_{mode}")
        summary = run_incremental(
            spark, inp, out, str(tmp_path / f"lin_{mode}"), run_id="r1",
            salt_partitions=salt,
        )
        assert summary["rows"] == n
        part_dirs = [p for p in __import__("pathlib").Path(out).iterdir() if p.is_dir()]
        assert len(part_dirs) == 1  # one src_key partition
        n_files = len(list(part_dirs[0].glob("*.parquet")))
        outs[mode] = {
            "files": n_files,
            "rows": sorted(
                tuple(r) for r in spark.read.parquet(out)
                .select("conv_id", "turn_idx", "extracted_text", "valid")
                .collect()
            ),
        }
    assert outs["off"]["files"] == 1  # the pathology: one task wrote everything
    assert outs["auto"]["files"] > 1  # the defense: extraction spread over tasks
    assert outs["off"]["rows"] == outs["auto"]["rows"]  # values untouched


def test_auto_salt_fires_on_incremental_whale_after_committed_files(spark, tmp_path):
    """Round-5 review regression: the auto-salt gate must size the PENDING
    subset, not the whole directory. With enough small files already
    committed, a whole-scan split count is >= cores and a whole-scan gate
    would silently skip the defense when a new whale file lands — exactly
    the incremental scenario the defense exists for."""
    import pandas as pd

    cores = spark.sparkContext.defaultParallelism
    inp, out, lin = (str(tmp_path / d) for d in ("input", "out", "lin"))
    small = generate_transcripts(n_convs=max(40, 2 * cores), seed=9)
    spark.createDataFrame(small, schema=TRANSCRIPTS).repartition(
        2 * cores
    ).write.parquet(inp)
    run_incremental(spark, inp, out, lin, run_id="r1")

    n = 4000
    whale = pd.DataFrame(
        {
            "conv_id": ["whale2"] * n,
            "turn_idx": pd.array(range(n), dtype="int32"),
            "role": ["user"] * n,
            "text": [f"MEMO REF {i} late whale {i % 89}.00" for i in range(n)],
            "tool": [None] * n,
            "ts": pd.Timestamp("2024-02-01"),
        }
    )
    spark.createDataFrame(whale, schema=TRANSCRIPTS).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    summary = run_incremental(spark, inp, out, lin, run_id="r2")
    assert summary["files"] == 1 and summary["rows"] == n
    # the whale's partition dir: the one holding conv_id 'whale2' rows
    from pyspark.sql import functions as F

    whale_key = (
        spark.read.parquet(out)
        .where(F.col("conv_id") == "whale2")
        .select(F.input_file_name())
        .first()[0]
    )
    import pathlib

    part_dir = pathlib.Path(whale_key.replace("file://", "")).parent
    n_files = len(list(part_dir.glob("*.parquet")))
    assert n_files > 1, f"auto-salt skipped on incremental whale ({n_files} file)"


def _job_ids(spark, group: str, fn):
    """Run ``fn()`` under job group ``group``; return (its result, the Spark
    job ids it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, sc.statusTracker().getJobIdsForGroup(group)


def test_append_prunes_committed_files_within_job_budget(spark, tmp_path, assert_matches_oracle):
    """An append run must drop committed files before the scan, not after
    it: with every committed input file overwritten by non-parquet bytes the
    run still succeeds and extracts exactly the one new file — any scan or
    listing pass that opened a committed file would fail to read it. The
    same run stays under a fixed budget of Spark jobs."""
    import pathlib

    inp, out, lin = (str(tmp_path / d) for d in ("input", "out", "lin"))
    base = generate_transcripts(n_convs=20, seed=5)
    spark.createDataFrame(base, schema=TRANSCRIPTS).repartition(3).write.parquet(inp)
    run_incremental(spark, inp, out, lin, run_id="r1")
    committed = sorted(pathlib.Path(inp).glob("*.parquet"))
    assert len(committed) == 3
    for f in committed:
        f.write_bytes(b"not parquet")
    extra = generate_transcripts(n_convs=4, seed=77)
    spark.createDataFrame(extra, schema=TRANSCRIPTS).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    (new,) = {f.name for f in pathlib.Path(inp).glob("*.parquet")} - {f.name for f in committed}

    summary, jobs = _job_ids(
        spark, "append_budget", lambda: run_incremental(spark, inp, out, lin, run_id="r2")
    )
    assert summary == {"files": 1, "rows": len(extra)}
    rows = spark.read.parquet(f"{out}/src_key={new}").collect()
    assert_matches_oracle(rows, {(c, int(i)): t for c, i, t in zip(extra.conv_id, extra.turn_idx, extra.text)})
    assert len(jobs) <= 6, f"append run started {len(jobs)} Spark jobs"


def test_special_character_file_names(spark, tmp_path, assert_matches_oracle):
    """src_key is the file name as input_file_name() spells it (URL-encoded);
    the output partition dir is that key escaped by Spark's partition
    writer. Both spellings, the resume no-op and the values must survive
    names that URL-encoding, path escaping and path globbing all treat
    specially."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    inp, out, lin = (tmp_path / d for d in ("input", "out", "lin"))
    inp.mkdir()
    names = ["a b.parquet", "p%q.parquet", "a#b.parquet", "x[1].parquet", "k=v.parquet", "ünï€.parquet"]
    pdf = generate_transcripts(n_convs=12, seed=31)
    convs = sorted(set(pdf.conv_id))
    for i, name in enumerate(names):
        part = pdf[pdf.conv_id.isin(convs[i :: len(names)])]
        pq.write_table(
            pa.Table.from_pandas(part, schema=to_arrow_schema(TRANSCRIPTS), preserve_index=False),
            inp / name,
        )
    first = run_incremental(spark, str(inp), str(out), str(lin), run_id="r1")
    assert first == {"files": len(names), "rows": len(pdf)}
    assert run_incremental(spark, str(inp), str(out), str(lin), run_id="r2") == {"files": 0, "rows": 0}
    assert {p.name for p in out.iterdir() if p.is_dir()} == {
        "src_key=a%2520b.parquet",
        "src_key=p%2525q.parquet",
        "src_key=a%2523b.parquet",
        "src_key=x%255B1%255D.parquet",
        "src_key=k%3Dv.parquet",
        "src_key=ünï€.parquet",
    }
    lin_keys = {r[0] for r in spark.read.parquet(str(lin)).select("partition_range").collect()}
    assert lin_keys == {"a%20b.parquet", "p%25q.parquet", "a%23b.parquet", "x%5B1%5D.parquet", "k=v.parquet", "ünï€.parquet"}
    rows = spark.read.parquet(str(out)).collect()
    assert_matches_oracle(rows, {(c, int(i)): t for c, i, t in zip(pdf.conv_id, pdf.turn_idx, pdf.text)})


def test_empty_input_file_commits_with_zero_counts(spark, tmp_path):
    """A zero-row parquet file in the input writes no output partition: the
    stats read-back must not look for one, and the file still commits (with
    zero counts), so re-running the complete run is a no-op."""
    inp, out, lin = (str(tmp_path / d) for d in ("input", "out", "lin"))
    pdf = generate_transcripts(n_convs=3, seed=13)
    spark.createDataFrame(pdf, schema=TRANSCRIPTS).coalesce(1).write.parquet(inp)
    spark.createDataFrame([], TRANSCRIPTS).coalesce(1).write.mode("append").parquet(inp)
    assert run_incremental(spark, inp, out, lin, run_id="r1") == {"files": 2, "rows": len(pdf)}
    assert spark.read.parquet(out).count() == len(pdf)
    counts = sorted(r[0] for r in spark.read.parquet(lin).select("row_count").collect())
    assert counts == [0, len(pdf)]
    assert run_incremental(spark, inp, out, lin, run_id="r2") == {"files": 0, "rows": 0}
