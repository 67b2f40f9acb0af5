"""Reference answers the output checks compare against."""

import pytest

from perfbench.checks import compare_golden, match_quality, pairwise_f1
from perfbench.fixtures import split_holdout


def test_pairwise_f1_exact_and_split_clusters():
    truth = {"a": "E1", "b": "E1", "c": "E1", "d": "E2", "e": "x"}
    assert pairwise_f1({"a": 1, "b": 1, "c": 1, "d": 2, "e": 1}, truth)["f1"] == 1.0
    # c split off: 1 of 3 true pairs found, no false pair
    r = pairwise_f1({"a": 1, "b": 1, "c": 3, "d": 2, "e": 1}, truth)
    assert r["precision"] == 1.0
    assert r["recall"] == pytest.approx(1 / 3)
    # d merged in: 3 true of 6 found
    r = pairwise_f1({"a": 1, "b": 1, "c": 1, "d": 1}, truth)
    assert r["precision"] == pytest.approx(0.5)
    assert r["recall"] == 1.0


def test_match_quality():
    truth = {"m1": "E1", "m2": "E2", "m3": "E3", "m4": "x", "c1": "E1", "c2": "E2", "c9": "E9"}
    base = {"c1", "c2", "c9"}
    hits = {"m1": "c1", "m2": "c9", "m4": "c1"}
    q = match_quality(hits, ["m1", "m2", "m3", "m4"], base, truth)
    assert q["hits"] == 2  # m4 is unlabelled
    assert q["precision"] == pytest.approx(0.5)
    assert q["recall"] == pytest.approx(0.5)  # m1 and m2 have an indexed entity, m3 has none


def test_compare_golden_rounds_f1():
    assert compare_golden({"n": 3, "f1": 0.99186}, {"n": 3, "f1": 0.9919}) == []
    assert compare_golden({"n": 4, "f1": 0.9919}, {"n": 3, "f1": 0.9919}) == ["n: got 4, want 3"]
    assert compare_golden({"n": 4}, None) == []


def test_split_holdout_is_seeded_and_disjoint():
    ids = [f"c{i:04d}" for i in range(500)]
    a = split_holdout(ids, 7, 10, 9)
    assert a == split_holdout(list(reversed(ids)), 7, 10, 9)
    assert a != split_holdout(ids, 8, 10, 9)
    flat = [c for b in a for c in b]
    assert len(flat) == len(set(flat)) == 90
    with pytest.raises(ValueError):
        split_holdout(ids[:50], 7, 10, 9)


def test_all_null_column_is_written_as_string(tmp_path):
    import pandas as pd
    import pyarrow.parquet as pq

    from perfbench.fixtures import write_parquet

    p = tmp_path / "t.parquet"
    write_parquet(pd.DataFrame({"conv_id": ["c1"], "tool": [None]}), str(p))
    assert str(pq.read_schema(str(p)).field("tool").type) == "string"
