"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
writes parquet under a cache directory named after both, so a second run
with the same seed reuses the files and generation never lands inside a
timed region or ``setup_s``.

- ``catalog_tables``: the ten TPC-H-ish + events/documents/embeddings
  tables the catalog queries read (same schemas as the oracle corpus).
- ``transcript_slices``: the FIXTURES.md transcript mix cut into
  arrival-ordered slices, with a flush row at the end.
- ``event_slices``: an SCD2 event log over a bounded user count, cut into
  arrival-ordered slices, with a flush event at the end.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from data_harvesting_spark.generator import generate_transcripts, write_parquet_us

_WORDS = [
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
    "big", "sort", "query", "fast", "the",
]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def _cached(path: str, build, allow_build: bool) -> str:
    """Build ``path`` once (atomically, via a sibling temp dir); with
    ``allow_build`` false a missing path raises ``LookupError``."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    if not allow_build:
        raise LookupError(path)
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def _events(rng: np.random.Generator, n: int, n_users: int) -> pd.DataFrame:
    """Event log: event_id order == event-time order over 30 days."""
    start = pd.Timestamp("2024-01-01").value // 1000
    span_us = 30 * 86400 * 1_000_000
    ts_us = start + np.sort(rng.integers(0, span_us, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.to_datetime(ts_us, unit="us"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    v = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": labels,
    })


def _dates(rng, n, lo="1995-01-01", days=2500) -> pd.Series:
    return pd.Timestamp(lo) + pd.to_timedelta(rng.integers(0, days, n), unit="D")


def catalog_tables(cache: str, seed: int, scale: float, allow_build: bool = True) -> str:
    """Oracle-corpus-shaped tables at ``scale`` × sf1 row counts."""

    def build(d: str) -> None:
        rng = np.random.default_rng(seed)
        n_cust = max(int(150_000 * scale), 50)
        n_ord = max(int(1_500_000 * scale), 100)
        n_li = max(int(6_000_000 * scale), 400)
        n_part = max(int(200_000 * scale), 50)
        n_supp = max(int(10_000 * scale), 10)
        n_docs = max(int(50_000 * scale), 100)
        tables = {
            "region": pd.DataFrame({
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }),
            "nation": pd.DataFrame({
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }),
            "customer": pd.DataFrame({
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(
                    ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING",
                     "AUTOMOBILE"], n_cust),
            }),
            "supplier": pd.DataFrame({
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }),
            "part": pd.DataFrame({
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [f"{a} {b}" for a, b in zip(
                    rng.choice(["small", "red", "blue", "hot", "green", "big",
                                "cold", "old"], n_part),
                    rng.choice(["ring", "widget", "bolt", "gear", "plate",
                                "nut", "pipe", "valve"], n_part))],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE",
                                      "PROMO", "STANDARD"], n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }),
            "orders": pd.DataFrame({
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                "o_orderdate": _dates(rng, n_ord),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"], n_ord),
            }),
            "lineitem": pd.DataFrame({
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["R", "A", "N"], n_li),
                "l_linestatus": rng.choice(["O", "F"], n_li),
                "l_shipdate": _dates(rng, n_li, days=2500),
            }),
            "events": _events(rng, max(int(1_000_000 * scale), 1000),
                              max(int(15_000 * scale), 20)),
            "documents": _documents(rng, n_docs),
            "embeddings": _embeddings(rng, n_docs),
        }
        for name, df in tables.items():
            write_parquet_us(df, os.path.join(d, f"{name}.parquet"))

    return _cached(os.path.join(cache, f"catalog-seed{seed}-scale{scale}"), build,
                   allow_build)


def _write_slices(d: str, df: pd.DataFrame, n_slices: int, flush: pd.DataFrame) -> None:
    """``df`` (already in arrival order) → ``n_slices`` files, the flush
    rows appended to the last one; mtimes increase with slice order, which
    is the order the file source consumes them in. After the last slice's
    batch the watermark is past every real row, so the no-data batch that
    follows closes everything without a batch for the flush rows alone."""
    base = 1_700_000_000
    parts = np.array_split(np.arange(len(df)), n_slices)
    for i, sl in enumerate(parts):
        part = df.iloc[sl]
        if i == n_slices - 1:
            part = pd.concat([part, flush], ignore_index=True)
        p = write_parquet_us(part, os.path.join(d, f"slice-{i:03d}.parquet"))
        os.utime(p, (base + i, base + i))


def transcript_slices(cache: str, seed: int, n_turns: int, n_slices: int,
                      allow_build: bool = True) -> str:
    """Exactly ``n_turns`` turns of the FIXTURES.md transcript mix (hot
    conversation, duplicates, empty text, late turns, gap splits) in
    arrival order — running max of ts per conversation, the order
    ``generator.write_batches`` uses — cut into ``n_slices`` slices, the
    last ending with a flush row: one far-future row that moves the
    watermark past every session, so all sessions close. The turn count is fixed so that every
    seed gives the same amount of work; the last conversations to arrive
    may lose their tails."""

    def build(d: str) -> None:
        # 10-14 turns per conversation, hot one included: 8 leaves headroom
        df = generate_transcripts(n_convs=n_turns // 8 + 50, seed=seed)
        if len(df) < n_turns:
            raise ValueError(f"generator gave {len(df)} turns, need {n_turns}")
        arrival = df.groupby("conv_id")["ts"].cummax()
        order = np.lexsort((df["turn_idx"].to_numpy(), arrival.to_numpy()))
        df = df.iloc[order[:n_turns]].reset_index(drop=True)
        flush = df.iloc[:1].copy()
        flush["conv_id"] = "conv-flush"
        flush["role"] = "user"
        flush["tool"] = "flush"
        flush["ts"] = df["ts"].max() + pd.Timedelta(hours=6)
        _write_slices(d, df, n_slices, flush)

    return _cached(
        os.path.join(cache, f"transcripts-seed{seed}-turns{n_turns}-slices{n_slices}"),
        build, allow_build)


FLUSH_USER = -1


def event_slices(cache: str, seed: int, n_events: int, n_users: int,
                 n_slices: int, allow_build: bool = True) -> str:
    """Event log over ``n_users`` users (the SCD2 handler's key count).
    Each user's event type persists with probability 0.6, so histories
    have runs and change points. Arrival order is event-time order with
    ~1% of rows swapped two positions later (out of order, but never
    behind a 10-minute watermark). The last slice ends with one far-future flush event
    of a user with no other events, so it closes no version itself."""

    def build(d: str) -> None:
        rng = np.random.default_rng(seed)
        df = _events(rng, n_events, n_users)
        last: dict[int, str] = {}
        types = df["event_type"].to_numpy().copy()
        keep = rng.random(n_events) < 0.6
        for i, u in enumerate(df["user_id"].to_numpy()):
            if keep[i] and u in last:
                types[i] = last[u]
            last[u] = types[i]
        df["event_type"] = types
        # swap ~1% of rows with the row two places later, only where that
        # row is under 5 minutes later, in disjoint blocks of three: no row
        # arrives after one more than 5 minutes newer, so none is behind
        # the 10-minute watermark
        ts = df["ts"].to_numpy()
        near = np.flatnonzero(ts[2:] - ts[:-2] < np.timedelta64(5, "m"))
        near = near[near % 3 == 0]
        order = np.arange(n_events)
        for i in rng.choice(near, min(len(near), n_events // 100), replace=False):
            order[i], order[i + 2] = order[i + 2], order[i]
        df = df.iloc[order].reset_index(drop=True)
        flush = df.iloc[:1].copy()
        flush["event_id"] = n_events
        flush["user_id"] = FLUSH_USER
        flush["ts"] = df["ts"].max() + pd.Timedelta(hours=6)
        _write_slices(d, df, n_slices, flush)

    return _cached(
        os.path.join(cache, f"events-seed{seed}-n{n_events}-users{n_users}"
                            f"-slices{n_slices}"),
        build, allow_build)
