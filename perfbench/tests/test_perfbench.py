"""The benchmark's own tests: generator determinism, the printed metric
names against BENCHMARK.json, smoke runs at small sizes, and the
failure mode without the program.

Run: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import csv
import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402
from perfbench.spans import _covered, parse_timing  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _hashes(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(d.iterdir())}


def test_movielens_generator_is_deterministic(tmp_path):
    a = gen.write_movielens(str(tmp_path / "a"), 7, 400, 4000)
    b = gen.write_movielens(str(tmp_path / "b"), 7, 400, 4000)
    c = gen.write_movielens(str(tmp_path / "c"), 8, 400, 4000)
    assert _hashes(tmp_path / "a") == _hashes(tmp_path / "b")
    assert a.rows == b.rows
    other = _hashes(tmp_path / "c")
    assert all(other[k] != v for k, v in _hashes(tmp_path / "a").items())
    for name in ("movies.csv", "ratings.csv"):
        lines = [len((tmp_path / d / name).read_text().splitlines()) for d in "ac"]
        assert lines[0] == lines[1]
    assert c.movies == a.movies == 400


def test_movielens_generator_covers_title_shapes(tmp_path):
    expect = gen.write_movielens(str(tmp_path), 3, 2000, 20000)
    with open(tmp_path / "movies.csv", newline="", encoding="utf-8") as f:
        rows = list(csv.DictReader(f))
    titles = [r["title"] for r in rows]
    raw = (tmp_path / "movies.csv").read_text(encoding="utf-8")
    assert any(", The (" in t for t in titles)
    assert any("(a.k.a. " in t for t in titles)
    assert any(gen._strip_diacritics(t) != t for t in titles)
    assert any(not t.endswith(")") for t in titles)  # no year
    assert '"' in raw and any("," in t for t in titles)  # quoted commas
    assert any(r["genres"] == gen.NO_GENRES for r in rows)
    with open(tmp_path / "ratings.csv", newline="") as f:
        ratings = [float(r["rating"]) for r in csv.DictReader(f)]
    assert sum(not 0 <= x <= 5 for x in ratings) == expect.invalid_ratings > 0
    assert expect.ratings == len(ratings) - expect.invalid_ratings


def test_warehouse_generator_is_deterministic(tmp_path):
    gen.write_warehouse(str(tmp_path / "a"), 0.001)
    gen.write_warehouse(str(tmp_path / "b"), 0.001)
    assert _hashes(tmp_path / "a") == _hashes(tmp_path / "b")
    assert {p.stem for p in (tmp_path / "a").iterdir()} == set(gen.WAREHOUSE_TABLES)


def test_covered_and_timing_parse():
    assert _covered([(0, 2), (1, 3), (5, 6)], (0.5, 5.5)) == pytest.approx(3.0)
    assert _covered([], (0, 1)) == 0.0
    assert parse_timing("total (min, med, max (stageId: taskId))\n5.6 s (1.3 s, 1.4 s)") == 5.6
    assert parse_timing("250 ms") == pytest.approx(0.25)
    assert parse_timing(None) == 0.0


def _smoke(workload: str, shrink: str, trace: int) -> tuple[list[str], dict]:
    """Run one workload at a small size in a fresh process; return the
    report lines and the final JSON."""
    code = (
        "import sys\n"
        f"sys.path.insert(0, {str(ROOT)!r})\n"
        "from perfbench import run, workloads\n"
        f"wl = workloads.make({workload!r})\n"
        f"{shrink}\n"
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '5', "
        f"'--seconds', '1', '--trace', '{trace}'], wl))\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _check_result(lines: list[str], result: dict, section: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, lines
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert "metric ops_failed_frac 0 ratio" in " ".join(lines)
    declared = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_smoke_relational_sf0001_traced():
    lines, result = _smoke("relational_short", "wl.sf = 0.001", trace=1)
    _check_result(lines, result, "per_layer")
    assert result["metrics"]["bench.unattributed_jobs"]["value"] == 0
    assert result["metrics"]["spark.jobs"]["value"] > 0
    e2e = {line.split()[1] for line in lines if line.startswith("metric ")}
    assert {m["name"] for m in SPEC["end_to_end"]} <= e2e


def test_smoke_tiny_etl():
    lines, result = _smoke(
        "movielens_etl", "wl.n_movies, wl.n_ratings = 300, 3000", trace=0)
    _check_result(lines, result, "end_to_end")
    e2e = {line.split()[1] for line in lines if line.startswith("metric ")}
    assert {"publish_s", "movie_queries_s", "stored_bytes_per_input_byte"} <= e2e


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark,
    the command exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [*SPEC["command"], "--workload", "relational_short", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
