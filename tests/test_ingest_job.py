"""Ingest-job summary contract (round-3 ADVICE fix): corrupt lines are
never silently dropped — without a --quarantine sink the JSON summary flags
the drop and stderr warns; rows_ingested (this run) and table_rows
(cumulative) are reported separately so repeated appends stay unambiguous."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

GOOD = '{"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hi", "tool": null, "ts": "2024-01-01T00:00:00"}'
BAD = '{"conv_id": "c1", "turn_idx": "NOT AN INT and unclosed'


def _run_ingest(tmp_path, with_quarantine: bool):
    src = tmp_path / ("in_q" if with_quarantine else "in_nq")
    src.mkdir()
    (src / "dump.json").write_text(GOOD + "\n" + BAD + "\n")
    out = tmp_path / ("table_q" if with_quarantine else "table_nq")
    cmd = [
        sys.executable,
        str(REPO / "jobs" / "ingest_job.py"),
        "--input", str(src),
        "--format", "json",
        "--output", str(out),
    ]
    if with_quarantine:
        cmd += ["--quarantine", str(tmp_path / "quarantine")]
    import os

    # production runs ship the package via spark-submit --py-files (see
    # test_spark_submit_job); this contract test runs the driver script
    # directly, so the package comes from PYTHONPATH
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    r = subprocess.run(
        cmd, capture_output=True, text=True, cwd=str(REPO), timeout=300, env=env
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    return summary, r.stderr


def test_ingest_without_quarantine_flags_the_drop(tmp_path):
    summary, stderr = _run_ingest(tmp_path, with_quarantine=False)
    assert summary["rows_ingested"] == 1
    assert summary["table_rows"] == 1
    assert summary["corrupt_lines"] == 1
    assert summary["corrupt_lines_dropped"] is True
    assert "DROPPED" in stderr


def test_ingest_with_quarantine_keeps_corrupt_lines(tmp_path):
    summary, stderr = _run_ingest(tmp_path, with_quarantine=True)
    assert summary["corrupt_lines"] == 1
    assert summary["corrupt_lines_dropped"] is False
    assert "DROPPED" not in stderr
    assert (tmp_path / "quarantine").exists()


def test_ingest_summary_rides_its_writes(spark, tmp_path, monkeypatch):
    """With --quarantine, corrupt_lines comes from the quarantine append
    itself (observe()) and table_rows from an explicit-schema read: no
    second JSON parse and no schema-inference job. The run's Spark jobs are
    counted under a job group: the two appends plus the table-row count."""
    import contextlib
    import io

    from pyspark.sql import SparkSession

    import jobs.ingest_job
    import pdf_extractor_spark.session

    monkeypatch.setattr(pdf_extractor_spark.session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    src = tmp_path / "in"
    src.mkdir()
    (src / "dump.json").write_text(GOOD + "\n" + BAD + "\n" + GOOD.replace('"c1"', '"c2"') + "\n")
    monkeypatch.setattr(sys, "argv", [
        "ingest_job", "--input", str(src), "--format", "json",
        "--output", str(tmp_path / "table"), "--quarantine", str(tmp_path / "quarantine"),
    ])
    sc, buf = spark.sparkContext, io.StringIO()
    sc.setJobGroup("ingest_budget", "ingest_budget")
    try:
        with contextlib.redirect_stdout(buf):
            jobs.ingest_job.main()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary == {
        "format": "json",
        "rows_ingested": 2,
        "table_rows": 2,
        "corrupt_lines": 1,
        "corrupt_lines_dropped": False,
    }
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("ingest_budget"))
    assert n_jobs <= 4, f"ingest run started {n_jobs} Spark jobs"
