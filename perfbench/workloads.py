"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``make_input`` (plus
``extra_setup``, which runs once), times one public call per ``rep`` and
checks that call's output, and compares once per run with an independent
result in ``final_check``. ``lazy_call`` is the traced run's plan-build
pass. All files live under the run's work directory inside the checkout.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quant_feature_pipeline_spark import jobs, sources
from quant_feature_pipeline_spark.config import PipelineConfig
from quant_feature_pipeline_spark.plans import flagship, pipeline
from quant_feature_pipeline_spark.plans.flagship_oracle import flagship_oracle_sql
from quant_feature_pipeline_spark.sources.tokens import EPOCH0

from procmem import tree_cpu_s

OHLCV = ("entity", "ts", "open", "high", "low", "close", "volume")
ORACLE_EVENTS = "oracle_events.parquet"
ORACLE_OUT = "oracle.parquet"
TFS = ("3m", "15m", "30m", "2h")


def checksum(df: DataFrame) -> tuple[int, int]:
    """(rows, Σ xxhash64 over every column mod p). Hashing every column
    forces the complete result, like a noop sink, and pins its value."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1_000_000_007))).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


@contextlib.contextmanager
def timed(tr):
    """Wall and process-tree CPU seconds of the block, as ``wall``/``cpu``
    of the yielded dict; the tracer tags the block's jobs when asked."""
    t: dict[str, float] = {}
    with tr.measured():
        c0, t0 = tree_cpu_s(), time.perf_counter()
        yield t
        t["wall"], t["cpu"] = time.perf_counter() - t0, tree_cpu_s() - c0


class CheckFailed(Exception):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def make_events(path: str, seed: int, n_events: int, n_entities: int, days: int) -> None:
    """The testdata ``events`` table shape: increasing event times with
    exponential gaps over ``days`` days from 2024-01-01, uniformly drawn
    entities (user_id), five event types, exponential values (mean 50,
    two decimals). Timestamps are stored without a zone (TIMESTAMP_NTZ
    in Spark), as in the testdata."""
    rng = np.random.default_rng(seed)
    gaps_us = rng.exponential(days * 86400e6 / n_events, n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "int64"
    ).astype("timedelta64[us]")
    kinds = np.array(["click", "view", "purchase", "signup", "error"])
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype="int64")),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_entities, n_events)),
            "event_type": pa.array(kinds[rng.integers(0, len(kinds), n_events)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    pq.write_table(table, path)


class Workload:
    # warm reps a run makes at least; the median of them is wall_s
    MIN_REPS = 2

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.cfg = PipelineConfig(base_tf="3m", resample_targets=TFS)
        self.first = None  # (rows, hash) of the first rep
        # wall/cpu of the session's first call, when set-up makes it
        self.cold: dict[str, float] | None = None

    def extra_setup(self) -> float:
        """Set-up that runs once, after the last ``make_input``; its
        seconds count into ``setup_s``."""
        return 0.0

    @classmethod
    def start_oracle(cls, work: str, seed: int) -> subprocess.Popen | None:
        """A child process that computes an independent result while the
        session starts, for ``final_check``; None if there is none."""
        return None


class FlagshipTrain(Workload):
    """sf0.1-shaped sparse ``events`` -> bars_from_events ->
    run_flagship(return_stats=True) -> checksum sink."""

    name = "flagship_train"
    N_EVENTS = 400
    N_ENTITIES = 50
    DAYS = 30

    def __init__(self, spark, work: str, seed: int, tracer):
        super().__init__(spark, work, seed, tracer)
        self.events_path = os.path.join(work, "events.parquet")
        self.input_rows = self.N_EVENTS
        self.first_frame = None  # its quantized features, for the oracle
        self.stats = None

    def make_input(self) -> None:
        make_events(self.events_path, self.seed, self.N_EVENTS, self.N_ENTITIES, self.DAYS)
        ev = self.spark.read.parquet(self.events_path)
        self.bars = sources.bars_from_events(ev).select(*OHLCV)
        with self.tr.span("materialize", "sources") as sp:
            sp["rows"] = self.bars.count()
        _require(sp["rows"] == self.N_EVENTS, f"events rows {sp['rows']}")

    def call(self) -> tuple[DataFrame, object]:
        return flagship.run_flagship(self.bars, self.cfg, return_stats=True)

    def rep(self) -> dict[str, float]:
        with timed(self.tr) as t:
            out, self.stats = self.call()
            with self.tr.span("sink", "features"):
                got = checksum(out)
        if self.first is None:
            self.first = got
            # the stages are still cached: this re-reads them, untimed
            names = flagship.flagship_feature_names(self.cfg)
            q6 = [(F.floor(F.col(c) * 1e6 + F.lit(0.5)) / 1e6).alias(c) for c in names]
            self.first_frame = out.select("entity", "ts", *q6).toPandas()
        self.spark.catalog.clearCache()
        _require(got == self.first, f"hash {got} != first rep {self.first}")
        return t

    def lazy_call(self) -> None:
        """Serve mode: the same plan with the train-time stats, no actions."""
        flagship.run_flagship(self.bars, self.cfg, stats=self.stats)

    @classmethod
    def start_oracle(cls, work: str, seed: int) -> subprocess.Popen:
        """DuckDB's ``flagship_oracle_sql()`` over the seed's events, run
        by this file as a child process while the JVM starts (see
        ``oracle_main``); the oracle is untimed and overlaps no rep."""
        return subprocess.Popen([sys.executable, __file__, work, str(seed)],
                                stdout=subprocess.DEVNULL)

    def final_check(self, oracle: subprocess.Popen | None) -> None:
        """The first rep's output against DuckDB's independent SQL over
        the same events, quantized to 1e-6 as the correctness gate does.
        Every rep's hash equals the first rep's."""
        _require(self.first_frame is not None, "no rep produced output")
        _require(oracle is not None and oracle.wait() == 0, "the oracle process failed")
        _require(pq.read_table(self.events_path).equals(
            pq.read_table(os.path.join(self.work, ORACLE_EVENTS))),
            "the oracle read other events")
        names = flagship.flagship_feature_names(self.cfg)
        got = self.first_frame
        want = pq.read_table(os.path.join(self.work, ORACLE_OUT)).to_pandas()
        keys = ["entity", "ts"]
        got = got.sort_values(keys).reset_index(drop=True)
        want = want.sort_values(keys).reset_index(drop=True)
        _require(len(got) == len(want), f"rows {len(got)} vs oracle {len(want)}")
        _require((got["entity"] == want["entity"]).all(), "entity keys differ")
        _require(
            (got["ts"].astype("datetime64[us]") == want["ts"].astype("datetime64[us]")).all(),
            "ts keys differ",
        )
        for c in names:
            ok = np.isclose(
                got[c].to_numpy(float), want[c].to_numpy(float),
                rtol=0.0, atol=1.5e-6, equal_nan=True,
            )
            _require(bool(ok.all()), f"{c}: {int((~ok).sum())} values differ from oracle")


class IncrementalRefresh(Workload):
    """Token-table bars; setup publishes a full build of the history into
    a checkpoint. Each rep restores that snapshot, lands one new day and
    calls ``jobs.build_features`` in auto mode: ``resume_plan``,
    ``run_pipeline`` over the warm-up tail, ``merge_increment``, the
    staging write and ``Checkpointer.write`` with its lineage manifest."""

    name = "incremental_refresh"
    # a rep costs about two thirds of a flagship_train rep, so a third one
    # fits the time budget; the median of three ignores one rep slowed
    # by the machine's other load
    MIN_REPS = 3
    N_ENTITIES = 16
    HIST_MIN = 1440
    NEW_MIN = 720
    # in 2h bars: a 12-hour warm-up, so the refresh recomputes the last
    # 24 of the 36 hours and keeps the first 12 from the snapshot
    WARMUP_BARS = 6
    BACKTRACK_S = 5 * 180  # the job republishes the last five 3m buckets

    def __init__(self, spark, work: str, seed: int, tracer):
        super().__init__(spark, work, seed, tracer)
        self.cfg = PipelineConfig(base_tf="3m", resample_targets=("3m", "2h"))
        self.all_path = os.path.join(work, "bars_all")
        self.hist_path = os.path.join(work, "bars_hist")
        self.ck0 = os.path.join(work, "ck0")
        self.ck = os.path.join(work, "ck")
        self.input_rows = self.N_ENTITIES * self.NEW_MIN  # minute bars landed
        self.new_rows = self.N_ENTITIES * self.NEW_MIN // 3  # 3m rows published
        self.total_rows = self.N_ENTITIES * (self.HIST_MIN + self.NEW_MIN) // 3

    def _args(self, inp: str, root: str, mode: str):
        return jobs._parse_args(
            ["--input", inp, "--checkpoint-root", root, "--mode", mode,
             "--targets", ",".join(self.cfg.resample_targets), "--warmup-bars", str(self.WARMUP_BARS)]
        )

    def make_input(self) -> None:
        tok = sources.synth_token_table(
            self.spark, n_entities=self.N_ENTITIES,
            minutes=self.HIST_MIN + self.NEW_MIN, seed=self.seed,
        )
        bars = sources.bars_from_tokens(tok).select(*OHLCV)
        with self.tr.span("materialize", "sources") as sp:
            bars.write.mode("overwrite").parquet(self.all_path)
            cut = F.timestamp_seconds(F.lit(EPOCH0 + self.HIST_MIN * 60))
            stored = self.spark.read.parquet(self.all_path)
            stored.filter(F.col("ts") < cut).write.mode("overwrite").parquet(self.hist_path)
            sp["rows"] = stored.count()
        _require(sp["rows"] == self.N_ENTITIES * (self.HIST_MIN + self.NEW_MIN),
                 f"token rows {sp['rows']}")

    def extra_setup(self) -> float:
        """The initial full build into the checkpoint the reps restore. It
        is the session's first ``build_features`` call: the cold one."""
        shutil.rmtree(self.ck0, ignore_errors=True)
        with timed(self.tr) as self.cold:
            m = jobs.build_features(self.spark, self._args(self.hist_path, self.ck0, "full"))
        self.spark.catalog.clearCache()
        _require(m["rows_published"] == self.total_rows - self.new_rows,
                 f"history rows {m['rows_published']}")
        return self.cold["wall"]

    def _restore(self) -> None:
        shutil.rmtree(self.ck, ignore_errors=True)
        shutil.copytree(self.ck0, self.ck)

    def rep(self) -> dict[str, float]:
        self._restore()
        with timed(self.tr) as t:
            m = jobs.build_features(self.spark, self._args(self.all_path, self.ck, "auto"))
        self.spark.catalog.clearCache()
        _require(m["mode"] == "incremental", f"mode {m['mode']}")
        _require(m["rows_published"] == self.total_rows,
                 f"manifest rows {m['rows_published']} != {self.total_rows}")
        snap = self.spark.read.parquet(os.path.join(self.ck, jobs.FEATURES_STAGE))
        r = snap.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("entity", "ts").alias("keys"),
            F.sum(F.pmod(F.xxhash64(*snap.columns), F.lit(1_000_000_007))).alias("h"),
        ).first()
        rows, keys, h = int(r["n"]), int(r["keys"]), int(r["h"] or 0)
        _require(rows == self.total_rows, f"rows {rows} != history + new {self.total_rows}")
        _require(keys == rows, f"{rows - keys} duplicate (entity, ts)")
        if self.first is None:
            self.first = (rows, h)
        _require((rows, h) == self.first, f"hash {(rows, h)} != first rep {self.first}")
        return t

    def lazy_call(self) -> None:
        """A refresh with lazy shims: compute-layer spans are plan build."""
        self._restore()
        jobs.build_features(self.spark, self._args(self.all_path, self.ck, "auto"))
        self.spark.catalog.clearCache()

    def final_check(self, oracle: None) -> None:
        """The refreshed snapshot against a rebuild with the same warm-up:
        rows before the publish backtrack come from the full build of the
        history, later rows from ``run_pipeline`` over the input from
        ``WARMUP_BARS`` 2h bars before the history's last bar. Matched on
        (entity, ts), floats must agree to rtol 1e-9, other values exactly."""
        keys = ["entity", "ts"]
        stage = jobs.FEATURES_STAGE
        snap = self.spark.read.parquet(os.path.join(self.ck, stage))
        hist = self.spark.read.parquet(os.path.join(self.ck0, stage))
        last = hist.agg(F.max("ts")).first()[0]
        start = last - datetime.timedelta(seconds=self.WARMUP_BARS * 7200)
        cut = last - datetime.timedelta(seconds=self.BACKTRACK_S)
        bars = self.spark.read.parquet(self.all_path)
        tail = pipeline.run_pipeline(bars.filter(F.col("ts") >= F.lit(start)), self.cfg)
        ref = hist.filter(F.col("ts") < F.lit(cut)).unionByName(
            tail.filter(F.col("ts") >= F.lit(cut)))
        _require(sorted(snap.columns) == sorted(ref.columns), "columns differ from rebuild")
        got = snap.toPandas().sort_values(keys).reset_index(drop=True)
        want = ref.select(*snap.columns).toPandas().sort_values(keys).reset_index(drop=True)
        self.spark.catalog.clearCache()
        _require(len(got) == len(want) == self.total_rows,
                 f"rows {len(got)}, rebuild {len(want)}, expected {self.total_rows}")
        wrong = {}
        for c in snap.columns:
            x, y = got[c].to_numpy(), want[c].to_numpy()
            if x.dtype.kind == "f":
                ok = np.isclose(x, y, rtol=1e-9, atol=1e-12, equal_nan=True)
            else:
                ok = x == y
            if not ok.all():
                wrong[c] = int((~ok).sum())
        _require(not wrong, f"values differ from rebuild: {wrong}")


WORKLOADS = {w.name: w for w in (FlagshipTrain, IncrementalRefresh)}


def oracle_main(work: str, seed: int) -> None:
    """Writes the flagship_train events for ``seed`` again, as
    ``ORACLE_EVENTS``, and DuckDB's ``flagship_oracle_sql()`` over them as
    ``ORACLE_OUT``, both under ``work``."""
    import duckdb

    w = FlagshipTrain
    events = os.path.join(work, ORACLE_EVENTS)
    make_events(events, seed, w.N_EVENTS, w.N_ENTITIES, w.DAYS)
    con = duckdb.connect()
    try:
        # one thread: the oracle shares the cores with the JVM's start-up
        con.execute("SET threads=1")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
        sql = flagship_oracle_sql(PipelineConfig(base_tf="3m", resample_targets=TFS))
        pq.write_table(con.execute(sql).arrow(), os.path.join(work, ORACLE_OUT))
    finally:
        con.close()


if __name__ == "__main__":
    oracle_main(sys.argv[1], int(sys.argv[2]))
