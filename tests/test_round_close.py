"""tools/round_close.py: the per-query snapshot takes its round number
from ``--round`` when given, instead of guessing it."""

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _round_close(tmp_path):
    spec = importlib.util.spec_from_file_location("round_close", os.path.join(ROOT, "tools", "round_close.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.ROOT = str(tmp_path)
    (tmp_path / "BENCH_LOCAL.json").write_text(json.dumps({"value": 1.0, "queries": {}}))
    (tmp_path / "CORRECTNESS_r15.json").write_text("{}")
    return mod


def test_round_override_names_the_snapshot(tmp_path):
    mod = _round_close(tmp_path)
    mod.snapshot_perquery(mod.round_arg(["--skip-check", "--round", "15"]))
    assert (tmp_path / "BENCH_r15_perquery.json").exists()
    assert not (tmp_path / "BENCH_r16_perquery.json").exists()


def test_round_guessed_without_override(tmp_path):
    mod = _round_close(tmp_path)
    mod.snapshot_perquery(mod.round_arg([str(tmp_path), "--skip-plans"]))
    assert (tmp_path / "BENCH_r16_perquery.json").exists()
