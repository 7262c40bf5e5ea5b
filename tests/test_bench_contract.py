"""The bench harness's contract, pinned: every benched name is a real
registry row, and bench.py holds the one row timer and the one
calibration probe that the timing scripts reuse."""

from __future__ import annotations

import importlib.util
import pathlib
import sys

_ROOT = pathlib.Path(__file__).resolve().parent.parent


def _load(path: pathlib.Path, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


bench = _load(_ROOT / "bench.py", "bench")


def test_headline_names_are_registry_rows():
    from jonesy_spark.plans import all_queries

    registry = set(all_queries())
    missing = [q for q in bench.HEADLINE if q not in registry]
    assert not missing, f"benched names not in the registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate rows"


def test_timing_scripts_reuse_the_bench_timer_and_calibration():
    """cold_ab and scale_probe time rows and calibrate through bench.py's
    own functions, so a second copy of the timer cannot come back."""
    for script in ("cold_ab", "scale_probe"):
        mod = _load(_ROOT / "scripts" / f"{script}.py", script)
        assert mod.time_row is bench.time_row, script
        assert mod.calibrate is bench.calibrate, script
