"""The closed-loop workloads: one client, one op type each.

Each workload builds its state (`build`, then untimed `warm_up` ops),
hands out a seeded op list
(`plan`), runs one op at a time (`run_op`) and checks outputs
(`check_op` per op, `finish` after the timed ops).  An op spec is fixed
before timing starts, so every run with one seed replays the identical
op sequence from the identical state.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import random
import sys
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from perfbench import datagen
from perfbench.common import Clock, median

EXCHANGE = "BINANCE"
SYMBOLS = ["BTC/USDT", "ETH/USDT", "SOL/USDT", "XRP/USDT"]


def _iso(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def data_files_per_dataset(lake_root: str) -> float:
    """Median count of visible parquet files on disk per dataset
    directory (a dataset dir is one holding a `_commits` log)."""
    counts = []
    for root, dirs, _ in os.walk(lake_root):
        if "_commits" not in dirs:
            continue
        n = 0
        for sub, sub_dirs, files in os.walk(root):
            sub_dirs[:] = [d for d in sub_dirs if not d.startswith(("_", "."))]
            n += sum(1 for f in files if f.endswith(".parquet") and not f.startswith(("_", ".")))
        counts.append(n)
        dirs[:] = []
    return float(median(counts)) if counts else 0.0


@contextlib.contextmanager
def _no_hook(workload, name):
    yield


class Workload:
    name = ""
    nominal_op_s = 1.0  # sizes the op count from --seconds
    trace_block = 1  # ops per traced/untraced block in a traced run

    def __init__(self, spark, work_dir: str, seed: int, tiny: bool) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.tiny = tiny
        self.stored_bytes_per_user_byte = 0.0  # set by workloads that write

    def build(self) -> None:
        """Build the initial state."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed ops run as part of set-up."""

    def start_timed(self) -> None:
        """Called once, right before the first timed op."""

    def plan(self, seconds: float) -> list:
        raise NotImplementedError

    def run_op(self, spec):
        raise NotImplementedError

    def check_op(self, spec, result) -> bool:
        return True

    def finish(self, done: list, around=None) -> set[int]:
        """Post-run checks; returns indices (into `done`) of failed ops.
        `around(workload, name)`, when given, is a context manager
        wrapped around each read-back so a traced run can measure it."""
        return set()

    def live_files(self) -> float:
        return 0.0


# -- ingest ---------------------------------------------------------------------


class Ingest(Workload):
    """Daily upserts of 1m candles, round-robin over four symbols, each
    batch overlapping the previous watermark by 60 rows."""

    name = "ingest"
    nominal_op_s = 2.5
    # the build covers 2024-01-03 .. 2024-02-01, so every op (2024-02-02
    # on, overlapping the previous day) rewrites only the February month
    first_day = 2
    build_days = 30
    overlap_rows = 60
    # one untimed daily upsert per symbol: the first few 1-day upserts after
    # the build run 10-25% slower than the ones after them
    warm_ops = len(SYMBOLS)
    trace_block = len(SYMBOLS)  # traced/untraced blocks of whole rounds

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        if self.tiny:
            self.build_days = 2
        self.rng = np.random.default_rng(self.seed)
        start = datagen.EPOCH0_MS + self.first_day * datagen.DAY_MS
        self.initial = {
            s: datagen.ohlc_minutes(self.rng, start, self.build_days * 1440, 1000.0 + 100 * i)
            for i, s in enumerate(SYMBOLS)
        }
        self.next_day = {s: self.first_day + self.build_days for s in SYMBOLS}
        self.last_close = {s: float(f["close"].iloc[-1]) for s, f in self.initial.items()}
        self.applied: dict[str, list[pd.DataFrame]] = {s: [f] for s, f in self.initial.items()}
        self.turn = 0

    def _key(self, symbol: str):
        from dl_datalake_spark.lake.paths import DatasetKey

        return DatasetKey(EXCHANGE, "SPOT", symbol)

    def build(self) -> None:
        from dl_datalake_spark.client import DataLakeClient

        self.root = os.path.join(self.work_dir, "ingest")
        os.makedirs(self.root)
        self.client = DataLakeClient(self.spark, os.path.join(self.root, "lake"))
        for s in SYMBOLS:
            self.client.writer.write_ohlc(
                self.spark.createDataFrame(self.initial[s]), self._key(s), mode="upsert"
            )

    def _next_batch(self) -> tuple[str, pd.DataFrame]:
        s = SYMBOLS[self.turn % len(SYMBOLS)]
        self.turn += 1
        day = self.next_day[s]
        self.next_day[s] = day + 1
        start = datagen.EPOCH0_MS + day * datagen.DAY_MS - self.overlap_rows * datagen.MINUTE_MS
        n = 1440 + self.overlap_rows
        batch = datagen.ohlc_minutes(self.rng, start, n, self.last_close[s])
        self.last_close[s] = float(batch["close"].iloc[-1])
        return s, batch

    def _upsert(self, spec) -> None:
        s, batch = spec
        self.client.writer.write_ohlc(self.spark.createDataFrame(batch), self._key(s), mode="upsert")
        self.applied[s].append(batch)

    def warm_up(self) -> None:
        for _ in range(self.warm_ops):
            self._upsert(self._next_batch())

    def plan(self, seconds: float) -> list:
        rounds = max(1, round(seconds / self.nominal_op_s / len(SYMBOLS)))
        return [self._next_batch() for _ in range(rounds * len(SYMBOLS))]

    def start_timed(self) -> None:
        self.bytes_before = dir_bytes(self.root)

    def run_op(self, spec):
        self._upsert(spec)

    def finish(self, done: list, around=None) -> set[int]:
        user_bytes = sum(len(b) for s, b in done) * datagen.OHLC_BYTES_PER_ROW
        grown = dir_bytes(self.root) - self.bytes_before
        self.stored_bytes_per_user_byte = grown / max(user_bytes, 1)
        lo = min(int(b["ts"].iloc[0]) for _, b in done)
        bad = {s for s in SYMBOLS if not self._check_symbol(s, lo, around or _no_hook)}
        return {i for i, (s, _) in enumerate(done) if s in bad}

    def _check_symbol(self, s: str, lo: int, around) -> bool:
        """Read back everything the timed ops wrote: unique ts, last
        write wins on every overlap, the expected total row count, and
        a catalog time range equal to the data's."""
        from pyspark.sql import functions as F

        from dl_datalake_spark.lake.paths import sanitize_symbol

        expected = (
            pd.concat(self.applied[s])
            .drop_duplicates("ts", keep="last")
            .sort_values("ts")
            .reset_index(drop=True)
        )
        with around(self, s):
            got = (
                self.client.read_ohlc(EXCHANGE, s, _iso(lo))
                .select("ts", "open", "high", "low", "close", "volume")
                .toPandas()
            )
        got = got.sort_values("ts").reset_index(drop=True)
        window = expected[expected["ts"] >= lo].reset_index(drop=True)
        if got["ts"].duplicated().any() or not got.astype("float64").equals(window.astype("float64")):
            return False
        if self.client.read_ohlc(EXCHANGE, s).count() != len(expected):
            return False
        cat = (
            self.client.manifest.load()
            .where(F.col("symbol") == sanitize_symbol(s))
            .agg(F.min("time_from").alias("t0"), F.max("time_to").alias("t1"))
            .collect()[0]
        )
        return (cat["t0"], cat["t1"]) == (int(expected["ts"].iloc[0]), int(expected["ts"].iloc[-1]))

    def dataset_live_files(self, s: str) -> int:
        """Files in the dataset's committed snapshot."""
        from dl_datalake_spark.lake.snapshot import resolve_live_files

        path = self.client.writer.dataset_path(self._key(s).normalized())
        return len(resolve_live_files(self.client.writer.fs, path) or [])

    def live_files(self) -> float:
        return data_files_per_dataset(os.path.join(self.root, "lake"))


# -- analytics --------------------------------------------------------------------

# One or more queries from every family of the registry's headline set:
# TPC-H joins, windows, events, the dedup trio, docs, media/embeddings.
ANALYTICS_QUERIES = [
    "q5_local_supplier",
    "window_rank_topn",
    "events_asof_join",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "docs_decontaminate",
    "media_feature_digest",
    "emb_ivf_topk",
]
# Row-heavy results go to the noop sink (engine time, no driver
# transfer); small aggregates are collected.  Never count(): Catalyst
# prunes unconsumed windows and projections under count.
NOOP_SINK = {"events_asof_join", "dedup_ngram_jaccard", "dedup_simhash"}

ANALYTICS_SF = 0.01
TINY_SF = 0.001
HERE = os.path.dirname(os.path.abspath(__file__))


def expected_path(sf: float) -> str:
    return os.path.join(HERE, f"expected_sf{sf:g}.json")


def _canon(v):
    """Order-insensitive, float-drift-tolerant scalar form for hashing."""
    if isinstance(v, float):
        return float(f"{v:.6g}") if math.isfinite(v) else str(v)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items())}
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    return v if isinstance(v, (int, str, bool)) or v is None else str(v)


def fingerprint(columns: list[str], dtypes: list[str], rows: list) -> dict:
    """Row count, column names, and per column either (sum, sum of
    squares) for floating columns or a hash of the sorted values."""
    cols = {}
    for i, (c, t) in enumerate(zip(columns, dtypes)):
        vals = [r[i] for r in rows]
        if t in ("double", "float") or t.startswith("decimal"):
            xs = [float(v) for v in vals if v is not None]
            cols[c] = {"sum": math.fsum(xs), "sumsq": math.fsum(x * x for x in xs),
                       "nulls": len(vals) - len(xs)}
        else:
            canon = sorted(json.dumps(_canon(v), sort_keys=True, default=str) for v in vals)
            cols[c] = {"hash": hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]}
    return {"columns": columns, "rows": len(rows), "cols": cols}


def fingerprints_match(got: dict, want: dict) -> bool:
    if got["columns"] != want["columns"] or got["rows"] != want["rows"]:
        return False
    for c, w in want["cols"].items():
        g = got["cols"].get(c, {})
        if "hash" in w:
            if g.get("hash") != w["hash"]:
                return False
        elif g.get("nulls") != w["nulls"] or not all(
            math.isclose(g.get(k, math.nan), w[k], rel_tol=1e-6, abs_tol=1e-6)
            for k in ("sum", "sumsq")
        ):
            return False
    return True


class Analytics(Workload):
    """Registry queries, one per op, in seeded shuffled whole passes."""

    name = "analytics"
    nominal_op_s = 9.0  # one pass
    warm_passes = 2
    trace_block = len(ANALYTICS_QUERIES)

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        self.sf = TINY_SF if self.tiny else ANALYTICS_SF
        with open(expected_path(self.sf)) as f:
            self.expected = json.load(f)
        self.failed_warm: set[str] = set()
        self.op_rng = random.Random(self.seed)

    def build(self) -> None:
        from dl_datalake_spark.queries import QUERIES

        self.queries = QUERIES
        self.data_dir = os.path.join(self.work_dir, "tables")
        datagen.write_analytics_tables(self.data_dir, self.sf)

    def warm_up(self) -> None:
        """One collected, fingerprint-checked pass over every query, then
        `warm_passes - 1` more passes run as ops are (after one pass the
        next is still about 10% slower than the one after it)."""
        for name in ANALYTICS_QUERIES:
            df = self.queries[name](self.spark, self.data_dir)
            rows = [tuple(r) for r in df.collect()]
            fp = fingerprint(df.columns, [t for _, t in df.dtypes], rows)
            if not fingerprints_match(fp, self.expected[name]):
                self.failed_warm.add(name)
        for _ in range(self.warm_passes - 1):
            for name in ANALYTICS_QUERIES:
                self.run_op(name)

    def plan(self, seconds: float) -> list:
        passes = max(1, int(seconds // self.nominal_op_s))
        out = []
        for _ in range(passes):
            order = list(ANALYTICS_QUERIES)
            self.op_rng.shuffle(order)
            out.extend(order)
        return out

    def query_df(self, name: str):
        return self.queries[name](self.spark, self.data_dir)

    def run_op(self, name: str):
        self.spark.catalog.clearCache()
        df = self.last_df = self.query_df(name)
        if name in NOOP_SINK:
            df.write.format("noop").mode("overwrite").save()
            return None
        return df.collect()

    def check_op(self, name: str, result) -> bool:
        if name in self.failed_warm:
            return False
        if result is None:  # noop sink: checked by the collected warm pass
            return True
        df = self.last_df
        fp = fingerprint(df.columns, [t for _, t in df.dtypes], [tuple(r) for r in result])
        return fingerprints_match(fp, self.expected[name])


WORKLOADS = {w.name: w for w in (Ingest, Analytics)}


def setup_workload(cls, spark, work_dir: str, seed: int, tiny: bool):
    """Build the workload's state and warm it up.  Returns the workload
    and the seconds both took."""
    wl = cls(spark, work_dir, seed, tiny)
    c = Clock()
    wl.build()
    built = c.elapsed()
    wl.warm_up()
    print(f"perfbench: build {built:.2f} s, warm-up {c.elapsed() - built:.2f} s",
          file=sys.stderr, flush=True)
    return wl, c.elapsed()
