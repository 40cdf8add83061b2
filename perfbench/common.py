"""Shared pieces of the job-level benchmark: output digests, timing
summary, window health, the warm session and in-process job calls.

Nothing here imports pyspark at module load, so the self-tests of the pure
helpers run without a JVM.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# one master for every run: half of a 4-core host, so the driver, GC threads
# and neighbours do not compete with task threads (see perfbench/README.md)
MASTER = "local[2]"
DRIVER_MEM = "2g"
# a job call still running after this long has its Spark jobs cancelled
OP_TIMEOUT_S = 45.0
_MASK = (1 << 64) - 1


# ---------------------------------------------------------------- digests


def _row_hash(row: tuple) -> int:
    return int.from_bytes(hashlib.blake2b(repr(row).encode(), digest_size=8).digest(), "big")


def multiset_digest(rows) -> tuple[int, str]:
    """Order-independent digest of an iterable of canonical row tuples:
    (row count, hex of the 64-bit sum of per-row hashes). A sum, not an XOR,
    so a duplicated row changes the digest."""
    n, acc = 0, 0
    for r in rows:
        n += 1
        acc = (acc + _row_hash(r)) & _MASK
    return n, f"{acc:016x}"


def oracle_row(conv_id: str, turn_idx: int, res) -> tuple:
    """Canonical extracted row from a ``rules.oracle.TurnResult``."""
    return (
        conv_id,
        int(turn_idx),
        res.family,
        res.extracted_text,
        tuple((int(s), int(e), k) for s, e, k in res.spans),
        tuple(sorted(res.rule_hits.items())),
        int(res.n_records),
        bool(res.valid),
        res.problem_reason,
    )


def output_row(d: dict) -> tuple:
    """Canonical extracted row from one committed output record, as pyarrow
    returns it (spans: list of dicts; rule_hits: list of key/value pairs)."""
    return (
        d["conv_id"],
        int(d["turn_idx"]),
        d["family"],
        d["extracted_text"],
        tuple((int(s["start"]), int(s["end"]), s["kind"]) for s in d["spans"]),
        tuple(sorted((k, int(v)) for k, v in d["rule_hits"])),
        int(d["n_records"]),
        bool(d["valid"]),
        d["problem_reason"],
    )


OUTPUT_COLUMNS = [
    "conv_id",
    "turn_idx",
    "family",
    "extracted_text",
    "spans",
    "rule_hits",
    "n_records",
    "valid",
    "problem_reason",
]


def read_parquet_rows(paths: list[Path], columns: list[str] | None = None) -> list[dict]:
    """Rows of the parquet files under ``paths`` (files or directories), read
    with pyarrow: no Spark job, so checks never show up in the event log."""
    import pyarrow.dataset as ds

    files = []
    for p in paths:
        if p.is_dir():
            files += sorted(
                f for f in p.rglob("*.parquet") if f.is_file() and not f.name.startswith((".", "_"))
            )
        elif p.exists():
            files.append(p)
    if not files:
        return []
    return ds.dataset([str(f) for f in files], format="parquet").to_table(columns=columns).to_pylist()


# ---------------------------------------------------------------- stats


def timing_summary(values: list[float]) -> dict:
    """Median op time with its sample count. A run makes a handful of ops,
    too few for any tail percentile."""
    return {"n": len(values), "p50": statistics.median(values) if values else None}


# ---------------------------------------------------------------- host


def loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


def spin_probe(n: int = 3_000_000) -> float:
    """Seconds for a fixed single-thread integer loop: a contended window
    reads slower here than on a quiet host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


# ---------------------------------------------------------------- session


class WarmSession:
    """One SparkSession per benchmark process. The jobs' own ``spark.stop()``
    is deferred to ``close()``, and ``SPARK_GRAFT_MASTER`` pins every
    ``get_spark`` call inside the jobs to the same master (and so the same
    shuffle partitions) as this session."""

    def __init__(self, work: Path, event_log: Path | None = None):
        self.work = work
        self.event_log = event_log
        self.spark = None
        self.start_s = None
        self._real_stop = None

    def open(self):
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ.update(
            {
                "SPARK_GRAFT_MASTER": MASTER,
                "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                "PYTHONPATH": os.pathsep.join(
                    [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
                ),
                "TMPDIR": str(tmp),
                "SPARK_LOCAL_DIRS": str(tmp),
                # spark-submit's launcher JVM runs before the driver's options apply
                "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "PYSPARK_PYTHON": sys.executable,
            }
        )
        conf = {
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log is not None:
            self.event_log.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_log.resolve().as_uri(),
                    # Spark 4 defaults to zstd-compressed rolling logs
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        from pyspark.sql import SparkSession

        from pdf_extractor_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench", master=MASTER, extra_conf=conf)
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self._real_stop = SparkSession.stop
        SparkSession.stop = lambda _self: None
        return self.spark

    def close(self) -> None:
        """Stop the session for real, then the JVM, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        SparkSession.stop = self._real_stop
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                with contextlib.suppress(Exception):
                    gateway.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


def call_job(module, argv: list[str], sc, timeout_s: float = OP_TIMEOUT_S) -> dict:
    """Run ``module.main()`` in-process with ``argv``; return the JSON summary
    the job prints last. A watchdog cancels the Spark jobs of ``sc`` after
    ``timeout_s``, so a hung op fails instead of hanging the run."""
    buf = io.StringIO()
    timer = threading.Timer(timeout_s, sc.cancelAllJobs)
    timer.daemon = True
    timer.start()
    saved = sys.argv
    sys.argv = [module.__name__, *argv]
    try:
        with contextlib.redirect_stdout(buf):
            module.main()
    finally:
        sys.argv = saved
        timer.cancel()
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"{module.__name__} printed no summary")
    return json.loads(lines[-1])


def reset_dir(p: Path) -> Path:
    shutil.rmtree(p, ignore_errors=True)
    p.mkdir(parents=True)
    return p


def snapshot_tree(p: Path) -> set[str]:
    return {str(f.relative_to(p)) for f in p.rglob("*")} if p.exists() else set()


def restore_tree(p: Path, baseline: set[str]) -> None:
    """Remove everything under ``p`` that is not in ``baseline`` (appends
    only add files, so this returns the directory to its committed state)."""
    for f in sorted(p.rglob("*"), key=lambda x: len(x.parts), reverse=True):
        if str(f.relative_to(p)) in baseline:
            continue
        if f.is_dir():
            shutil.rmtree(f, ignore_errors=True)
        else:
            f.unlink(missing_ok=True)
