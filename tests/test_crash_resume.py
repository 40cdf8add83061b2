"""Crash-anywhere resume matrix for jobs/extract_job.py (operators/lineage.py
two-phase commit).

For every k, ``extract_job.main()`` is made to raise just before, and just
after, its k-th Spark action (DataFrame.collect/count/localCheckpoint and
DataFrameWriter.parquet are wrapped), and then resumed with a plain re-run.
After the resume:
  - the output multiset equals ``rules.oracle.extract_turn`` over the input;
  - every input file has exactly one ``done`` lineage row;
  - every ``src_key=`` output dir maps to an input file (no orphans).
The matrix ends at the first k the job never reaches, so it covers every
action the job takes, however many that is.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import DataFrameWriter, SparkSession
from pyspark.sql.classic.dataframe import DataFrame  # the class whose actions run

from pdf_extractor_spark.rules.oracle import extract_turn
from pdf_extractor_spark.schema import TRANSCRIPTS
from pdf_extractor_spark.sources.synth import generate_transcripts

ACTIONS = (
    (DataFrame, "collect"),
    (DataFrame, "count"),
    (DataFrame, "localCheckpoint"),
    (DataFrameWriter, "parquet"),
)


class Crash(Exception):
    """The injected failure."""


@pytest.fixture
def job(spark, monkeypatch):
    """Run extract_job.main() in-process on the test session (its stop() is
    a no-op here), optionally crashing at its k-th Spark action."""
    import jobs.extract_job
    import pdf_extractor_spark.session

    monkeypatch.setattr(pdf_extractor_spark.session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    def run(argv: list[str], crash_at: int | None = None, when: str = "before") -> None:
        calls = [0]

        def wrap(orig):
            def action(*a, **k):
                calls[0] += 1
                here = calls[0]
                if here == crash_at and when == "before":
                    raise Crash(here)
                out = orig(*a, **k)
                if here == crash_at and when == "after":
                    raise Crash(here)
                return out

            return action

        with pytest.MonkeyPatch.context() as mp:
            for cls, name in ACTIONS:
                mp.setattr(cls, name, wrap(getattr(cls, name)))
            mp.setattr(sys, "argv", ["extract_job", *argv])
            with contextlib.redirect_stdout(io.StringIO()):
                jobs.extract_job.main()

    return run


def _check_resumed(spark, out: str, lin: str, ref: Counter, files: set[str]):
    cols = ["conv_id", "turn_idx", "family", "extracted_text", "spans", "rule_hits",
            "n_records", "valid", "problem_reason"]
    got = Counter(
        (r.conv_id, r.turn_idx, r.family, r.extracted_text,
         tuple((s.start, s.end, s.kind) for s in r.spans),
         tuple(sorted(r.rule_hits.items())), r.n_records, r.valid, r.problem_reason)
        for r in spark.read.parquet(out).select(*cols).collect()
    )
    assert got == ref
    done = Counter(
        r[0] for r in spark.read.parquet(lin).where(F.col("status") == "done")
        .select("partition_range").collect()
    )
    assert done == Counter(files)
    dirs = {p for p in os.listdir(out) if p.startswith("src_key=")}
    assert dirs == {f"src_key={f}" for f in files}


@pytest.mark.parametrize("mode", ["fresh", "append"])
def test_extract_job_resumes_after_crash_at_any_action(spark, tmp_path, job, mode):
    """``fresh``: nothing committed yet. ``append``: two files committed,
    one new file pending, so the run also reads the lineage table."""
    pdf = generate_transcripts(n_convs=12, seed=17)
    src, out, lin = (str(tmp_path / d) for d in ("input", "out", "lineage"))
    argv = ["--input", src, "--output", out, "--lineage", lin]
    convs = sorted(set(pdf.conv_id))
    base, new = pdf[pdf.conv_id.isin(convs[:8])], pdf[pdf.conv_id.isin(convs[8:])]
    spark.createDataFrame(base, schema=TRANSCRIPTS).repartition(2).write.parquet(src)
    if mode == "append":
        job(argv)
        shutil.copytree(out, out + "_committed")
        shutil.copytree(lin, lin + "_committed")
    spark.createDataFrame(new, schema=TRANSCRIPTS).coalesce(1).write.mode("append").parquet(src)
    files = {f for f in os.listdir(src) if f.endswith(".parquet")}
    assert len(files) == 3
    ref = Counter()
    for conv_id, turn_idx, text in zip(pdf.conv_id, pdf.turn_idx, pdf.text):
        o = extract_turn(text)
        ref[(conv_id, int(turn_idx), o.family, o.extracted_text, tuple(o.spans),
             tuple(sorted(o.rule_hits.items())), o.n_records, o.valid, o.problem_reason)] += 1

    k, crashes = 1, 0
    while True:
        reached = False
        for when in ("before", "after"):
            for d in (out, lin):
                shutil.rmtree(d, ignore_errors=True)
                if mode == "append":
                    shutil.copytree(d + "_committed", d)
            try:
                job(argv, crash_at=k, when=when)
            except Crash:
                reached, crashes = True, crashes + 1
            job(argv)
            _check_resumed(spark, out, lin, ref, files)
        if not reached:
            break
        k += 1
    # the output write and the lineage write, plus the commit-key read once
    # a lineage table exists: the matrix must have crashed at each of them
    assert k - 1 >= (3 if mode == "append" else 2) and crashes == 2 * (k - 1)
