"""Seeded, single-process input generators for the three workloads.

Every generator is a pure function of ``seed``: the same seed writes the
same rows, and a different seed changes the rows but never the sizes
(row counts, window sizes and planted shares are fixed by the knobs
below). Inputs are written as parquet with pyarrow; no Spark is involved,
so the generator doubles as the independent reference the output checks
compare against.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# knobs (documented in perfbench/README.md)
# ---------------------------------------------------------------------------

CRON = {
    "rows_per_slice": 2000,     # rows per one-hour slice of the cursor column
    "window_slices": 8,         # one firing reads 8 slices = 16,000 rows
    "overlap_share": 0.25,      # each window overlaps the previous by 2 slices
    "firings_per_pass": 6,      # the target grows for 6 firings, then resets
    "null_share": 0.08,         # per nullable column
}

CORPUS = {
    "docs": 1000,
    "exact_dup_share": 0.10,    # verbatim copies of an earlier document
    "near_dup_share": 0.10,     # copies with two token substitutions
    "boilerplate_share": 0.20,  # shared 24-token prefix + own body
    "gate_fail_share": 0.10,    # no language markers: dropped by the lang gate
}

QUERY_MIX = {
    # row counts: a 0.10 share of the sf0.1 fixture's, except documents and
    # embeddings, which keep the sf0.01 fixture's 500; keys stay intact
    # (every foreign key resolves)
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}

# the fixture `documents` vocabulary (sf0.1 documents.parquet), minus
# the English marker "the", so the language gate is driven only by the
# markers planted below
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "agg", "key",
    "query", "a", "scan", "batch",
]
# language markers unique to one language (operators/textops.MARKERS)
LANG_MARKERS = {
    "en": ["the", "and", "is", "of", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "los", "las", "y"],
    "fr": ["le", "les", "et", "une", "est"],
}
LANGS = ["en", "de", "es", "fr"]
LANG_P = [0.4, 0.2, 0.2, 0.2]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_CRON_EPOCH = np.datetime64("2024-03-01T00:00:00", "us")
_HOUR_US = 3_600_000_000


def _rng(seed: int, salt: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{salt}:{seed}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _with_nulls(rng, values: np.ndarray, share: float) -> list:
    mask = rng.random(len(values)) < share
    return [None if m else v for m, v in zip(mask, values.tolist())]


# ---------------------------------------------------------------------------
# cron_transfer
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class CronInputs:
    source_dir: str
    table: str
    windows: list[tuple[str, str]]      # inclusive [lo, hi] per firing
    appended: list[int]                 # rows each firing must append
    source: pa.Table                    # every generated row
    window_rows: int


def _ts_text(us: int) -> str:
    return str(_CRON_EPOCH + np.timedelta64(us, "us")).replace("T", " ")


def cron_inputs(seed: int, root: str) -> CronInputs:
    """A source table over the universal scalar types (integers, double,
    decimal, boolean, string, date, timestamp; nulls in every nullable
    column) and the firing windows of one pass."""
    k = CRON
    rng = _rng(seed, "cron")
    step = k["window_slices"] - round(k["window_slices"] * k["overlap_share"])
    n_slices = k["window_slices"] + (k["firings_per_pass"] - 1) * step
    n = n_slices * k["rows_per_slice"]
    slice_of = np.repeat(np.arange(n_slices), k["rows_per_slice"])
    ts_us = slice_of * _HOUR_US + rng.integers(0, _HOUR_US, n)
    ts = _CRON_EPOCH + ts_us.astype("timedelta64[us]")
    ids = rng.permutation(n).astype(np.int64) + 1_000_000
    cents = rng.integers(0, 10_000_000, n)
    price = [Decimal(int(c)).scaleb(-2) for c in cents]
    names = np.array([f"acct-{v:05d}" for v in rng.integers(0, 50_000, n)], dtype=object)
    share = k["null_share"]
    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "day": pa.array(ts.astype("datetime64[D]"), pa.date32()),
        "qty": pa.array(_with_nulls(rng, rng.integers(-500, 500, n), share), pa.int32()),
        "price": pa.array(price, pa.decimal128(12, 2)),
        "amount": pa.array(_with_nulls(rng, rng.normal(0, 1e4, n), share), pa.float64()),
        "flag": pa.array(_with_nulls(rng, rng.random(n) < 0.5, share), pa.bool_()),
        "name": pa.array(_with_nulls(rng, names, share), pa.string()),
    })
    source_dir = os.path.join(root, "cron")
    _write(table, os.path.join(source_dir, "source.parquet"))
    windows, appended = [], []
    for f in range(k["firings_per_pass"]):
        lo = f * step * _HOUR_US
        hi = lo + k["window_slices"] * _HOUR_US - 1
        windows.append((_ts_text(lo), _ts_text(hi)))
        appended.append((k["window_slices"] if f == 0 else step) * k["rows_per_slice"])
    return CronInputs(source_dir, "source", windows, appended, table,
                      k["window_slices"] * k["rows_per_slice"])


# ---------------------------------------------------------------------------
# corpus_curate
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class CorpusInputs:
    path: str
    texts: dict[int, str]               # doc_id -> text
    exact_groups: list[list[int]]       # planted verbatim-duplicate groups


def _body(rng, lang: str | None, n_tokens: int) -> list[str]:
    words = list(rng.choice(VOCAB, n_tokens))
    if lang is not None:
        markers = LANG_MARKERS[lang]
        for pos in rng.choice(n_tokens, max(2, n_tokens // 8), replace=False):
            words[pos] = markers[rng.integers(len(markers))]
    return words


def _docs_frame(ids, texts, langs, rng) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{v}" for v in rng.integers(0, 20, len(ids))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus_inputs(seed: int, root: str) -> CorpusInputs:
    """Documents with unique ids and planted exact duplicates, near
    duplicates, a boilerplate-prefix share and a language-gate-fail
    share. Each category's size is fixed by the knobs."""
    k = CORPUS
    rng = _rng(seed, "corpus")
    n = k["docs"]
    n_exact = round(n * k["exact_dup_share"])
    n_near = round(n * k["near_dup_share"])
    n_boiler = round(n * k["boilerplate_share"])
    n_fail = round(n * k["gate_fail_share"])
    n_orig = n - n_exact - n_near
    boiler = list(rng.choice(VOCAB, 24))
    texts, langs = [], []
    for i in range(n_orig):
        lang = LANGS[rng.choice(4, p=LANG_P)]
        if i < n_fail:
            texts.append(" ".join(_body(rng, None, int(rng.integers(30, 80)))))
        elif i < n_fail + n_boiler:
            texts.append(" ".join(boiler + _body(rng, lang, int(rng.integers(24, 40)))))
        else:
            texts.append(" ".join(_body(rng, lang, int(rng.integers(30, 80)))))
        langs.append(lang)
    # exact duplicates: groups of 2 copies over distinct originals
    src_exact = rng.choice(np.arange(n_fail, n_orig), (n_exact + 1) // 2, replace=False)
    groups: dict[int, list[int]] = {}
    for j in range(n_exact):
        o = int(src_exact[j // 2])
        texts.append(texts[o])
        langs.append(langs[o])
        groups.setdefault(o, [o]).append(n_orig + j)
    for _ in range(n_near):
        o = int(rng.integers(n_fail, n_orig))
        words = texts[o].split()
        for pos in rng.choice(len(words), 2, replace=False):
            words[pos] = VOCAB[rng.integers(len(VOCAB))]
        texts.append(" ".join(words))
        langs.append(langs[o])
    order = rng.permutation(n)
    ids = np.empty(n, dtype=np.int64)
    ids[order] = np.arange(n)       # position i gets doc_id ids[i]
    path = os.path.join(root, "corpus", "documents.parquet")
    _write(_docs_frame(ids, texts, langs, rng), path)
    return CorpusInputs(
        path,
        {int(ids[i]): texts[i] for i in range(n)},
        [sorted(int(ids[m]) for m in g) for g in groups.values()],
    )


# ---------------------------------------------------------------------------
# query_mix: the fixture table universe, sf0.1 schemas and distributions
# ---------------------------------------------------------------------------

def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def query_mix_inputs(seed: int, root: str) -> str:
    """The ten fixture tables (oracle.TABLES) under ``root/tables``; the
    DuckDB oracle and the Spark slots read the same files."""
    k = QUERY_MIX
    rng = _rng(seed, "query_mix")
    out = os.path.join(root, "tables")
    os.makedirs(out, exist_ok=True)

    def put(name, cols):
        _write(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, npart, no, nl = (k[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    put("customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, nc),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    })
    put("supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, ns),
    })
    put("part", {
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "blue", "large"], npart),
            rng.choice(["ring", "widget", "bolt", "gear"], npart))],
        "p_brand": [f"Brand#{v}" for v in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(npart) * 0.1, 2),
    })
    day0 = np.datetime64("1995-01-01", "D")
    odate = day0 + rng.integers(0, 2404, no).astype("timedelta64[D]")
    put("orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    # exactly `nl` lines spread over the orders (1..n per order)
    per_order = rng.multinomial(nl - no, np.full(no, 1 / no)) + 1
    lkey = np.repeat(np.arange(no), per_order)
    lnum = np.concatenate([np.arange(1, c + 1) for c in per_order])
    ship = odate[lkey] + rng.integers(1, 122, nl).astype("timedelta64[D]")
    qty = rng.integers(1, 51, nl).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    ne = k["events"]
    month_us = 30 * 24 * _HOUR_US
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.choice(month_us, ne, replace=False)).astype("timedelta64[us]")
    put("events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0, 100, ne), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, ne)],
    })
    nd = k["documents"]
    texts = [" ".join(list(rng.choice(VOCAB + ["the"], int(rng.integers(10, 101)))))
             for _ in range(nd)]
    langs = rng.choice(["en", "de", "es", "fr", "zh"], nd, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    _write(_docs_frame(np.arange(nd), texts, langs, rng), os.path.join(out, "documents.parquet"))
    nv = k["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(0, 1.2, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return out


# ---------------------------------------------------------------------------
# order-insensitive fingerprints shared by generator and checks
# ---------------------------------------------------------------------------

def canonical_frame(table: pa.Table) -> pd.DataFrame:
    """Render every column to text with one rule per type, so a table
    written by pyarrow and the same rows read back from Spark's parquet
    compare equal: timestamps as UTC epoch microseconds, dates as epoch
    days, decimals at their scale, nulls as a sentinel."""
    cols = {}
    for name in sorted(table.column_names):
        col = table.column(name).combine_chunks()
        t = col.type
        if pa.types.is_timestamp(t):
            col = col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
        elif pa.types.is_date(t):
            col = col.cast(pa.int32())
        if pa.types.is_list(t):
            text = [None if v is None else repr(v) for v in col.to_pylist()]
        else:
            text = col.cast(pa.string()).to_pylist()
        cols[name] = pd.Series(text, dtype=object).fillna("\x00")
    return pd.DataFrame(cols)


def fingerprint(table: pa.Table) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a table."""
    frame = canonical_frame(table)
    if len(frame) == 0:
        return 0, "0"
    h = pd.util.hash_pandas_object(frame, index=False).to_numpy(dtype=np.uint64)
    return len(frame), f"{int(h.sum(dtype=np.uint64)):016x}"
