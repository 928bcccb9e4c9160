"""The workloads.  Each has ``prepare`` (inputs; runs while the session
starts), ``setup`` (first load or the oracle-checked cold round; returns
the untimed rounds it ran), ``round`` (one unit of work, every operation
checked) and ``finish`` (checks on the final state).

* ``DailyEtl`` — the paper's daily pipeline: ``plans.pipeline.bootstrap``
  then one ``run_daily`` cycle per round on a ``TxnWarehouse``, fed by a
  seeded ``gen.Catalogue``; each cycle's stats and the final
  ``game``/``time_play`` tables are checked against the generator.
* ``CorpusMix`` — one pass over the oracle-backed LLM-corpus and
  streaming registry entries in ``CORPUS``, in a seed-shuffled order.
  The cold round compares each entry's full result with its DuckDB
  oracle (the comparison of ``tools/compare.py``) and records a one-row
  fingerprint; every later round rebuilds the entry and collects only
  the fingerprint.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORPUS = [
    "dedup_lines_corpus", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "similarity_ann_ivf_exact", "similarity_topk_bruteforce",
    "pandas_udf_token_count", "pipeline_corpus_clean",
    "streaming_window_dedup_counts", "streaming_stateful_user_stats",
]


@dataclass
class Op:
    """One checked operation of a round."""
    name: str
    ok: bool
    build_s: float = 0.0
    action_s: float = 0.0
    detail: str = ""


@dataclass
class Round:
    index: int
    wall_s: float
    ops: list[Op] = field(default_factory=list)
    steal_share: float | None = None  # measured for timed rounds


def _load_compare():
    """``tools/compare.py`` — the repository's oracle comparison."""
    path = os.path.join(ROOT, "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("_repo_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _error(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e)[:500]}"


def fingerprint(df):
    """One-row, order-insensitive digest of ``df``: row count plus the
    sum of the low 32 bits and the XOR of an ``xxhash64`` over every
    output column, so no column can be pruned from the plan."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[df[c].cast("string") for c in df.columns]).alias("h")
    return df.select(h).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)).alias("lo"),
        F.bit_xor("h").alias("x"),
    )


class CorpusMix:
    entries = CORPUS
    sf = 0.05
    warmup = 0  # the cold oracle round is the warm-up
    nominal_round_s = 16.0

    def __init__(self):
        self.expected: dict[str, tuple] = {}

    def prepare(self, ctx) -> None:
        """Land the tables and run every entry's DuckDB oracle.  Needs no
        Spark session, so it overlaps the session start."""
        import duckdb
        from play_bq_gcp_spark.queries import ORACLES

        missing = [e for e in self.entries if e not in ORACLES]
        if missing:
            raise RuntimeError(f"entries without an oracle: {missing}")
        self.data = os.path.join(ctx.work, "tables")
        ctx.notes["inputs"] = gen.fixture_tables(ctx.seed, self.sf, self.data)
        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            path = os.path.join(self.data, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.oracle = {}
        for name in self.entries:
            rel = con.sql(ORACLES[name])
            self.oracle[name] = (list(rel.columns), rel.fetchall())
        con.close()

    def setup(self, ctx) -> list[Round]:
        return [self.oracle_round(ctx)]

    def _order(self, ctx, index: int) -> list[str]:
        order = list(self.entries)
        random.Random(f"{ctx.seed}:{index}").shuffle(order)
        return order

    def oracle_round(self, ctx) -> Round:
        """Cold round: full result vs the DuckDB oracle, then record the
        fingerprint of the verified result.  Untimed."""
        from play_bq_gcp_spark.queries import QUERIES

        compare = _load_compare()
        t0 = time.perf_counter()
        rnd = Round(0, 0.0)
        for name in self._order(ctx, 0):
            t_op = time.perf_counter()
            try:
                df = QUERIES[name](ctx.spark, self.data)
                s_rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # noqa: BLE001 - recorded as a failed check
                rnd.ops.append(Op(name, False, detail=_error(e)))
                continue
            d_cols, d_rows = self.oracle[name]
            problem = ""
            if len(s_rows) != len(d_rows):
                problem = f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}"
            elif sorted(df.columns) != sorted(d_cols):
                problem = f"columns spark={sorted(df.columns)} duckdb={sorted(d_cols)}"
            elif (compare.rows_key(df.columns, s_rows)
                  != compare.rows_key(d_cols, d_rows)):
                problem = "values differ from the oracle"
            if not problem:
                self.expected[name] = tuple(fingerprint(df).collect()[0])
            rnd.ops.append(Op(name, not problem,
                              action_s=time.perf_counter() - t_op,
                              detail=problem))
        rnd.wall_s = time.perf_counter() - t0
        return rnd

    def round(self, ctx, index: int) -> Round:
        from play_bq_gcp_spark.queries import QUERIES

        rnd = Round(index, 0.0)
        t_round = time.perf_counter()
        for name in self._order(ctx, index):
            if name not in self.expected:
                rnd.ops.append(Op(name, False, detail="no verified result"))
                continue
            try:
                with ctx.op(name) as rec:
                    t0 = time.perf_counter()
                    with ctx.phase(name, "build"):
                        df = QUERIES[name](ctx.spark, self.data)
                    t1 = time.perf_counter()
                    with ctx.phase(name, "action"):
                        fp = fingerprint(df)
                        got = tuple(fp.collect()[0])
                    t2 = time.perf_counter()
                    rec.update(fp_df=fp)
            except Exception as e:  # noqa: BLE001 - recorded as a failed op
                rnd.ops.append(Op(name, False, detail=_error(e)))
                continue
            ok = got == self.expected[name]
            rnd.ops.append(Op(name, ok, t1 - t0, t2 - t1,
                              "" if ok else f"fingerprint {got}"))
        rnd.wall_s = time.perf_counter() - t_round
        return rnd

    def finish(self, ctx) -> list[Op]:
        return []


class DailyEtl:
    titles = 200_000
    # the 1st cycle is cold (2x a warm one), the 2nd still 10-30 % slow:
    # both are warm-up, so every timed cycle (and a traced cycle's
    # untraced neighbours) is warm
    warmup = 2
    nominal_round_s = 4.0

    def _land(self, ctx) -> str:
        """Land today's raw extract the way the cron job receives it:
        one parquet file per day."""
        day_dir = os.path.join(ctx.work, "extracts", f"day{self.cat.day:03d}")
        os.makedirs(day_dir, exist_ok=True)
        snap = self.cat.snapshot().copy()
        for c in ("first_played_date_time", "last_played_date_time"):
            snap[c] = snap[c].dt.tz_localize("UTC")
        pq.write_table(pa.Table.from_pandas(snap, preserve_index=False),
                       os.path.join(day_dir, "game_snapshot.parquet"),
                       coerce_timestamps="us")
        return day_dir

    def prepare(self, ctx) -> None:
        """Simulate the catalogue and land day 0 (no Spark needed)."""
        self.cat = gen.Catalogue(ctx.seed, self.titles)
        self.day0 = self._land(ctx)

    def setup(self, ctx) -> list[Round]:
        from play_bq_gcp_spark.catalog import read_table
        from play_bq_gcp_spark.plans import pipeline

        self.wh = pipeline.TxnWarehouse(os.path.join(ctx.work, "warehouse"))
        with ctx.tracer.span("pipeline.bootstrap"):
            pipeline.bootstrap(
                self.wh, read_table(ctx.spark, self.day0, "game_snapshot")
            )
        return []

    def round(self, ctx, index: int) -> Round:
        from play_bq_gcp_spark.catalog import read_table
        from play_bq_gcp_spark.plans import pipeline

        expected = self.cat.next_day()
        day_dir = self._land(ctx)
        run_date = self.cat.run_date()
        name = f"run_daily_{run_date}"
        t0 = time.perf_counter()
        try:
            with ctx.op(name, changed_rows=sum(expected.values())), \
                    ctx.phase(name, "action"), \
                    ctx.tracer.span("pipeline.run_daily"):
                raw = read_table(ctx.spark, day_dir, "game_snapshot")
                stats = pipeline.run_daily(self.wh, ctx.spark, raw, run_date)
        except Exception as e:  # noqa: BLE001 - recorded as a failed op
            wall = time.perf_counter() - t0
            return Round(index, wall, [Op(name, False, 0.0, wall, _error(e))])
        wall = time.perf_counter() - t0
        got = {k: stats.get(k) for k in expected}
        observed = {k: stats.get(f"{k}_observed", v) for k, v in expected.items()}
        ok = got == expected and observed == expected
        op = Op(name, ok, 0.0, wall,
                "" if ok else f"stats {stats} expected {expected}")
        return Round(index, wall, [op])

    def finish(self, ctx) -> list[Op]:
        try:
            return [self._final_tables(ctx)]
        except Exception as e:  # noqa: BLE001 - recorded as a failed check
            return [Op("final_tables", False, detail=_error(e))]

    def _final_tables(self, ctx) -> Op:
        """The final dimension and fact tables against the generator."""
        from pyspark.sql import functions as F

        game = self.wh.read(ctx.spark, "game").select(
            "id", "play_count", "play_duration", "last_played_date_time"
        ).toPandas().sort_values("id").reset_index(drop=True)
        want = self.cat.titles[[
            "id", "play_count", "play_duration_seconds", "last_played_date_time"
        ]].sort_values("id").reset_index(drop=True)
        problems = []
        if len(game) != len(want) or not (
            (game["id"] == want["id"]).all()
            and (game["play_count"] == want["play_count"]).all()
            and (game["play_duration"] == want["play_duration_seconds"]).all()
            and (game["last_played_date_time"].dt.tz_localize(None)
                 == want["last_played_date_time"]).all()
        ):
            problems.append("game table differs from the generator")
        tp = self.wh.read(ctx.spark, "time_play").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("play_count_diff").alias("diff"),
        ).first()
        if (tp["n"], tp["diff"]) != (self.cat.time_play_rows,
                                     self.cat.time_play_count_diff):
            problems.append(
                f"time_play {tuple(tp)} expected "
                f"{(self.cat.time_play_rows, self.cat.time_play_count_diff)}"
            )
        return Op("final_tables", not problems, detail="; ".join(problems))


WORKLOADS = {
    "daily_etl": DailyEtl,
    "corpus_mix": CorpusMix,
}
