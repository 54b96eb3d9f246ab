"""The traced benchmark wraps engine functions by name: every wrapped
name must still resolve, or ``perfbench/run.py --trace 1`` dies in
``Tracer.install`` before its first pass."""

from __future__ import annotations

import importlib
import os
import sys

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def test_traced_benchmark_targets_resolve(monkeypatch):
    before = set(sys.modules)
    monkeypatch.syspath_prepend(PERFBENCH)
    try:
        tracing = importlib.import_module("tracing")
        targets, methods = tracing.TARGETS, tracing.STATE_METHODS
    finally:
        # the benchmark's own top-level modules (gen, workloads, tracing)
        for name in set(sys.modules) - before:
            if getattr(sys.modules[name], "__file__", "") and sys.modules[name].__file__.startswith(PERFBENCH):
                del sys.modules[name]
    from transferdb_spark.state.store import StateStore

    missing = [
        f"{mod}.{attr}" for mod, attr, _, _ in targets
        if not callable(getattr(importlib.import_module(mod), attr, None))
    ]
    missing += [f"StateStore.{m}" for m in methods if not callable(getattr(StateStore, m, None))]
    assert not missing
