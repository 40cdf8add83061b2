"""bench.py --components-pressure records a child JVM that outlives its
timeout as a ``timeout`` cell and goes on with the rest of the grid."""

from __future__ import annotations

import subprocess

import bench


def test_timed_out_cell_is_recorded_and_grid_continues(monkeypatch):
    calls = []

    def fake_run(cmd, **kw):
        calls.append(cmd)
        raise subprocess.TimeoutExpired(cmd, kw.get("timeout"))

    emitted = []
    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    monkeypatch.setattr(bench, "_emit", emitted.append)
    monkeypatch.setattr(bench, "_window_health", lambda load_start=None: {})

    bench.components_pressure(n_edges=10)

    assert len(calls) == 6  # every cell of the grid was attempted
    (payload,) = emitted
    assert [r["status"] for r in payload["results"]] == ["timeout"] * 6
    assert payload["value"] == 0
    assert payload["agreement"] == "ok"
