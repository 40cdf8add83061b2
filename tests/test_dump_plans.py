"""scripts/dump_plans.py resolves its audited callables only when PLANS.md
is regenerated; this pins them without starting Spark, so a renamed or
deleted query fails here instead of at the next regeneration."""

from __future__ import annotations

import importlib.util
from pathlib import Path

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "dump_plans.py"


def test_every_audited_entry_is_callable():
    spec = importlib.util.spec_from_file_location("dump_plans", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    audited = mod._audited()
    assert audited
    for name, fn, _ in audited:
        assert callable(fn), name
