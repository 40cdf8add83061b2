"""End-to-end spark-submit --py-files packaging test (north-rule ship shape).

Builds the package zip, writes a small transcript table, runs the REAL
spark-submit binary in a clean cwd (so the package can only come from the
zip), and checks output values + lineage + resume no-op.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    try:
        import pyspark

        p = Path(pyspark.__file__).parent / "bin" / "spark-submit"
        return str(p) if p.exists() else None
    except ImportError:
        return None


@pytest.mark.slow
def test_spark_submit_pyfiles_roundtrip(spark, tmp_path, assert_matches_oracle):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit not available")

    from pdf_extractor_spark.schema import TRANSCRIPTS
    from pdf_extractor_spark.sources.synth import generate_transcripts

    input_dir = str(tmp_path / "input")
    pdf = generate_transcripts(n_convs=10, seed=42)
    spark.createDataFrame(pdf, schema=TRANSCRIPTS).repartition(2).write.parquet(input_dir)

    sys.path.insert(0, str(REPO / "scripts"))
    from make_pyfiles import build

    zip_path = build(tmp_path / "dist" / "pdf_extractor_spark.zip")

    def submit_once() -> dict:
        cmd = [
            submit,
            "--master",
            "local[4]",
            "--py-files",
            str(zip_path),
            str(REPO / "jobs" / "extract_job.py"),
            "--input",
            input_dir,
            "--output",
            str(tmp_path / "out"),
            "--lineage",
            str(tmp_path / "lineage"),
        ]
        env = {**os.environ, "SPARK_GRAFT_MASTER": "local[4]"}
        out = subprocess.run(
            cmd, capture_output=True, text=True, timeout=420, cwd=str(tmp_path), env=env
        )
        assert out.returncode == 0, out.stderr[-3000:]
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        return json.loads(line)

    first = submit_once()
    assert first["files"] == 2
    assert first["rows"] == len(pdf)
    second = submit_once()  # resume no-op
    assert second["files"] == 0

    # the kernel as shipped in the zip: every field of every written row
    # equals the oracle on that row's input text
    got = spark.read.parquet(str(tmp_path / "out")).collect()
    assert_matches_oracle(
        got, {(r.conv_id, r.turn_idx): r.text for r in pdf.itertuples()}
    )
