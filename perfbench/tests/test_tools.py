"""Tests of the benchmark's Spark-free parts: span arithmetic, the
compare tool's verdicts, and the seeded generators."""

from __future__ import annotations

import pyarrow.parquet as pq

import compare
import gen
from spans import Tracer, self_times, totals


def _span(sid, parent, name, start, end):
    return {"id": sid, "parent": parent, "name": name, "start": start,
            "end": end, "attrs": {}}


def test_self_time_subtracts_children():
    spans = [_span(0, None, "op", 0.0, 10.0),
             _span(1, 0, "build", 0.0, 6.0),
             _span(2, 1, "catalog.read_table", 1.0, 2.5),
             _span(3, 0, "action", 6.0, 9.0)]
    st = self_times(spans)
    assert st == {0: 1.0, 1: 4.5, 2: 1.5, 3: 3.0}


def test_totals_counts_outermost_spans_only():
    spans = [_span(0, None, "txn_table.read", 0.0, 2.0),
             _span(1, 0, "txn_table.read", 0.5, 1.0),
             _span(2, None, "txn_table.read", 3.0, 4.0)]
    assert totals(spans, "txn_table.read") == (3.0, 2)


def test_tracer_wraps_every_importer_and_gates_recording():
    import types

    mod = types.ModuleType("pb_fake_layer")
    mod.f = lambda x: x + 1
    user = types.ModuleType("pb_fake_user")
    user.f = mod.f
    import sys

    sys.modules["pb_fake_layer"], sys.modules["pb_fake_user"] = mod, user
    try:
        t = Tracer()
        t.wrap(mod, "f", "layer.f")
        assert mod.f(1) == 2 and not t.spans  # disabled: no span
        t.enabled = True
        assert user.f(2) == 3
        assert [s["name"] for s in t.spans] == ["layer.f"]
        t.unwrap_all()
        assert user.f is mod.f and mod.f(0) == 1
    finally:
        del sys.modules["pb_fake_layer"], sys.modules["pb_fake_user"]


SPEC = {"name": "run_s", "unit": "s", "better": "lower", "bound": 0.1}


def test_verdicts():
    base = [(s, 10.0 + 0.1 * (s % 3)) for s in range(10)]
    assert compare.verdict(base, base, SPEC)["verdict"] == "within spread"
    faster = [(s, v * 0.8) for s, v in base]
    assert compare.verdict(base, faster, SPEC)["verdict"] == "better"
    slower = [(s, v * 1.05) for s, v in base]
    v = compare.verdict(base, slower, SPEC)
    assert v["verdict"] == "worse" and v["wins"] == 0 and v["pairs"] == 10
    much_slower = [(s, v * 1.2) for s, v in base]
    assert compare.verdict(base, much_slower, SPEC)["verdict"] == "REGRESSION"
    noisy = [(s, 10.0 * (0.8 if s % 2 else 1.2)) for s in range(10)]
    assert compare.verdict(noisy, noisy, SPEC)["verdict"] == "unresolved"


def test_pairs_match_by_seed_and_ties_count_for_neither():
    base = [(1, 5.0), (2, 5.0), (3, 5.0)]
    new = [(2, 4.0), (3, 5.0), (4, 1.0)]
    assert compare.pair_wins(base, new, lower_is_better=True) == (1, 0, 2)


def test_fixture_tables_are_seeded(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.fixture_tables(7, 0.002, a)
    gen.fixture_tables(7, 0.002, b)
    gen.fixture_tables(8, 0.002, c)
    for t in ("lineitem", "events", "documents", "embeddings"):
        ta = pq.read_table(f"{a}/{t}.parquet")
        assert ta.equals(pq.read_table(f"{b}/{t}.parquet"))
        assert not ta.equals(pq.read_table(f"{c}/{t}.parquet"))
    docs = pq.read_table(f"{a}/documents.parquet").to_pandas()
    assert (docs["n_chars"] == docs["text"].str.len()).all()


def test_catalogue_days_have_known_stats():
    cat = gen.Catalogue(3, 2000)
    assert cat.titles["id"].is_unique
    before = cat.titles.copy()
    stats = cat.next_day()
    assert stats["new_games"] == 20
    assert len(cat.titles) == 2020 and cat.titles["id"].is_unique
    merged = before.merge(cat.titles, on="id", suffixes=("_0", "_1"))
    gained = (merged["play_count_1"] > merged["play_count_0"]).sum()
    assert gained == stats["time_play"] == cat.time_play_rows
    # surrogate key: last 7 of the stripped title id + ddHHyyyyMM
    row = cat.titles.iloc[0]
    assert row["id"] == (row["title_id"].replace("_", "")[-7:]
                         + row["first_played_date_time"].strftime("%d%H%Y%m"))
