"""Seeded input generators for the benchmark.

Two families, both deterministic in ``seed``:

* ``fixture_tables`` lands the ten tables the query registry reads
  (TPC-H-shaped star schema, ``events``, ``documents``,
  ``embeddings``) as one parquet file each, with the value
  distributions of the repository's sf fixtures (see FIXTURES.md):
  uniform foreign keys, 30-word document vocabulary with 5 %
  near-duplicates, unit-norm 64-dim float32 embeddings, 30 days of
  events over ``15_000 * sf`` users.
* ``Catalogue`` simulates the PSN title catalogue the daily pipeline
  ingests: ``n_titles`` titles whose surrogate keys are spread over the
  whole key range, and one snapshot per day in which ~1 % of titles
  are new and ~5 % of the known titles gained plays.  It keeps the
  expected ``game`` dimension and ``time_play`` fact so a run can be
  checked against it.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "anvil", "widget", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _texts(rng, n: int) -> list[str]:
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    flat = words[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(flat[e - k : e]) for e, k in zip(ends, lens)]
    # 5 % near-duplicates (a copy of an earlier doc plus one token) and a
    # few exact duplicates, so every dedup path has work to find
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return texts


def fixture_tables(seed: int, sf: float, out: str) -> dict[str, int]:
    """Land the registry's ten tables at scale ``sf`` under ``out``;
    returns the row count of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(20_000 * sf)

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }))
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    }))
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }))
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
    }))
    # events: ascending ids over ascending microsecond timestamps
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    texts = _texts(rng, n_doc)
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    vecs = rng.standard_normal((n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.astype(np.float32).ravel()), 64
    ).cast(pa.list_(pa.float32()))
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_ev,
        "documents": n_doc, "embeddings": n_vec,
    }


GAME_SNAPSHOT_COLUMNS = [
    "title_id", "title_name", "image", "category", "first_played_date_time",
    "last_played_date_time", "play_count", "play_duration_seconds",
]
DAY0 = dt.datetime(2024, 1, 1)


class Catalogue:
    """A simulated PSN catalogue that advances one day per ``next_day``.

    The surrogate key the pipeline derives is the last 7 characters of
    the underscore-stripped ``title_id`` followed by ``ddHHyyyyMM`` of the
    first-played time; title numbers and first-played hours are drawn
    uniformly, so new titles land all over the key range instead of
    after the current maximum."""

    new_share = 0.01  # of the catalogue, added as new titles each day
    active_share = 0.05  # of the titles, gain plays each day

    def __init__(self, seed: int, n_titles: int):
        self.rng = np.random.default_rng(seed)
        self.day = 0
        self.titles = self._new_titles(n_titles, taken=set())
        self.time_play_rows = 0
        self.time_play_count_diff = 0

    def _new_titles(self, n: int, taken: set[str]) -> pd.DataFrame:
        rng = self.rng
        frames, got = [], 0
        while got < n:
            m = int((n - got) * 1.1) + 16
            num = rng.integers(0, 10_000_000, m)
            hours = rng.integers(0, 4 * 365 * 24, m)
            first = np.datetime64("2019-01-01T00", "h") + hours.astype(
                "timedelta64[h]"
            )
            tid = [f"CUSA_{x:07d}_00" for x in num]
            first_dt = pd.to_datetime(first)
            key = [
                f"CUSA{x:07d}00"[-7:] + t.strftime("%d%H%Y%m")
                for x, t in zip(num, first_dt)
            ]
            df = pd.DataFrame({"id": key, "title_id": tid,
                               "first_played_date_time": first_dt})
            df = df[~df["id"].isin(taken)].drop_duplicates("id")
            df = df.iloc[: n - got]
            taken.update(df["id"])
            frames.append(df)
            got += len(df)
        df = pd.concat(frames, ignore_index=True)
        k = len(df)
        df["title_name"] = [f"Title {i}" for i in rng.integers(0, 1_000_000, k)]
        df["image"] = "http://img/" + df["title_id"]
        df["category"] = np.where(
            rng.random(k) < 0.5, "ps4_game", "ps5_native_game"
        )
        today = pd.Timestamp(DAY0 + dt.timedelta(days=self.day))
        df["last_played_date_time"] = today
        df["play_count"] = rng.integers(1, 200, k).astype("int64")
        df["play_duration_seconds"] = (
            df["play_count"] * rng.integers(600, 3600, k)
        ).astype("float64")
        return df

    def snapshot(self) -> pd.DataFrame:
        """Today's raw API extract, in the GAME_SNAPSHOT_SCHEMA columns."""
        return self.titles[GAME_SNAPSHOT_COLUMNS]

    def next_day(self) -> dict[str, int]:
        """Advance one day; returns the run stats the pipeline must
        report for it (``new_games``, ``time_play``)."""
        self.day += 1
        rng = self.rng
        n = len(self.titles)
        active = rng.random(n) < self.active_share
        gained = rng.integers(1, 6, int(active.sum()))
        idx = np.flatnonzero(active)
        t = self.titles
        today = pd.Timestamp(DAY0 + dt.timedelta(days=self.day))
        t.loc[idx, "play_count"] = t["play_count"].to_numpy()[idx] + gained
        t.loc[idx, "play_duration_seconds"] = (
            t["play_duration_seconds"].to_numpy()[idx] + gained * 1800.0
        )
        t.loc[idx, "last_played_date_time"] = today
        fresh = self._new_titles(
            max(1, int(n * self.new_share)), taken=set(t["id"])
        )
        self.titles = pd.concat([t, fresh], ignore_index=True)
        self.time_play_rows += len(idx)
        self.time_play_count_diff += int(gained.sum())
        return {"new_games": len(fresh), "time_play": len(idx)}

    def run_date(self) -> str:
        return (DAY0 + dt.timedelta(days=self.day)).strftime("%Y-%m-%d")
