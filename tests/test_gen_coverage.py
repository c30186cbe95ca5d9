"""``scripts/gen_coverage.py`` picks the README's bench artifact by round
number, not by file mtime, and renders the artifact's own core count."""

from __future__ import annotations

import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
import gen_coverage  # noqa: E402


def _line(value: float) -> dict:
    return {"value": value, "queries": {"q": value}, "sf": 0.1, "cold_total": 2 * value}


def test_latest_bench_orders_by_round_not_mtime(tmp_path, monkeypatch):
    artifacts = {
        "BENCH_r2.json": {"n": 2, "cpus": 32, "parsed": _line(2.0)},
        "BENCH_r09.json": {"n": 9, "cpus": 32, "parsed": _line(9.0)},
        "BENCH_r10.json": {"n": 10, "cpus": 32, "parsed": _line(10.0)},
        "BENCH_r10_c8.json": {"n": 10, "cpus": 8, "parsed": _line(10.8)},
        # truncated tail capture: never picked
        "BENCH_r11.json": {"n": 11, "cpus": 32, "parsed": None},
        # the local detail file never wins over a round artifact
        "BENCH_DETAIL.json": _line(99.0),
    }
    for name, d in artifacts.items():
        (tmp_path / name).write_text(json.dumps(d))
    monkeypatch.setattr(gen_coverage, "ROOT", str(tmp_path))

    rng = random.Random(7)
    names = list(artifacts)
    for _ in range(6):
        rng.shuffle(names)
        for i, name in enumerate(names):
            os.utime(tmp_path / name, (1_000_000 + i, 1_000_000 + i))
        name, d = gen_coverage._latest_bench()
        assert name == "BENCH_r10_c8.json"
        assert d["cpus"] == 8

    readme = (
        "Bench headline (1 queries, sf0.1, local[32]): old — from `BENCH_r09.json` "
        "(`bench.py` prints both; steady-state = second run; see BENCH methodology in bench.py)."
    )
    out = gen_coverage.render_readme(readme)
    assert "local[8]" in out and "`BENCH_r10_c8.json`" in out
    # --check pins the cited artifact and renders its own core count
    assert "local[32]" in gen_coverage.render_readme(readme, pin_cited=True)

    for name in names:
        if name != "BENCH_DETAIL.json":
            os.remove(tmp_path / name)
    assert gen_coverage._latest_bench()[0] == "BENCH_DETAIL.json"
