"""The A/B tool and the growth-curve tool, run in-process on sf0.001."""

from __future__ import annotations

import json
import tempfile

from conftest import SF_SMALL
from pyspark.sql import functions as F

from tools import ab, scale


def test_ab_same_entry_passes_gate_and_counts_jobs(spark, capsys):
    argv = ["q3_top_segment", "q3_top_segment", "--sf", SF_SMALL, "--reps", "2"]
    assert ab.main(argv) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["rows_compared"] > 0
    for label in ("old", "new"):
        variant = out[label]
        assert variant["target"] == "q3_top_segment"
        assert len(variant["times"]) == 2
        assert variant["min"] == min(variant["times"])
        assert len(variant["jobs"]) == 2 and all(j > 0 for j in variant["jobs"])


def test_ab_mismatch_exits_before_timing(spark, capsys, monkeypatch):
    timed = []
    monkeypatch.setattr(ab, "timed_run", lambda *a: timed.append(a))
    assert ab.main(["q1_top_part", "q3_top_segment", "--sf", SF_SMALL]) == 1
    assert timed == []
    out = json.loads(capsys.readouterr().out)
    assert out["equal"] is False
    assert out["old_rows"] > 0 and out["new_rows"] > 0
    assert 0 < len(out["only_old"]) <= 3 and 0 < len(out["only_new"]) <= 3


def test_scale_doubles_facts_and_keeps_copy0(spark, capsys, tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    assert scale.main(["2", "q3_top_segment", "--sf", SF_SMALL]) == 0
    lines = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert lines[0]["entry"] == "q3_top_segment" and lines[0]["jobs_k"] > 0
    big = lines[-1]["warehouse"]
    assert big.startswith(str(tmp_path))

    def read(sf_dir, table):
        return spark.read.parquet(f"{sf_dir}/{table}.parquet")

    for table in scale.DIMENSIONS:
        src, out = read(SF_SMALL, table), read(big, table)
        assert out.count() == src.count()
        assert out.exceptAll(src).count() == 0
    for table, id_col in scale.FACTS.items():
        src, out = read(SF_SMALL, table), read(big, table)
        n = src.count()
        assert out.count() == 2 * n, table
        # copies never collide: each copy adds the source's distinct keys
        distinct = src.select(id_col).distinct().count()
        assert out.select(id_col).distinct().count() == 2 * distinct, table
        max_id = src.agg(F.max(id_col)).first()[0]
        copy0 = out.filter(F.col(id_col) <= max_id)
        assert copy0.exceptAll(src).count() == 0, table
        assert src.exceptAll(copy0).count() == 0, table
    # copy 1 of the corpus is perturbed: near-duplicates, not exact ones
    docs = read(big, "documents")
    assert docs.select("text").distinct().count() > read(SF_SMALL, "documents").count()
