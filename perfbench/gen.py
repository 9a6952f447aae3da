"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, size): the same seed gives the
same bytes. Shapes follow the repository's testdata tables (TPC-H-like
``lineitem``/``orders``, an ``events`` stream, and the LLM-data
``documents``/``embeddings`` tables), so the registry queries run on them
unchanged.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

#: shipdate domain, as in TPC-H: 1992-01-01 + [0, 2526) days
SHIP_EPOCH = np.datetime64("1992-01-01", "D")
SHIP_DAYS = 2526

_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
_WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join small big data column order query group "
    "customer filter stream vector select index page file split shard "
    "token model embed dedup cluster sketch count".split()
)
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = np.array([0.44, 0.15, 0.14, 0.14, 0.13])
_EVENT_TYPES = np.array(["click", "view", "purchase", "error", "signup", "logout"])
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)


def lineitem(rng: np.random.Generator, n: int, key_offset: int = 0) -> pa.Table:
    """``n`` lineitem-shaped rows. Each ``l_orderkey`` in
    ``[key_offset, key_offset + n // 4)`` appears about four times at
    random positions, so a table sorted on ``l_shipdate`` scatters every
    key across pages (the case a per-page bloom filter prunes)."""
    keys = key_offset + rng.permutation(n) // 4
    return pa.table(
        {
            "l_orderkey": keys.astype(np.int64),
            "l_partkey": rng.integers(1, 20_000, n),
            "l_suppkey": rng.integers(1, 1_000, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _FLAGS[rng.integers(0, 3, n)],
            "l_linestatus": _STATUS[rng.integers(0, 2, n)],
            "l_shipdate": pa.array(
                SHIP_EPOCH + rng.integers(0, SHIP_DAYS, n).astype("timedelta64[D]")
            ),
        }
    )


def sort_by_shipdate(t: pa.Table) -> pa.Table:
    return t.sort_by([("l_shipdate", "ascending"), ("l_orderkey", "ascending")])


def documents(
    rng: np.random.Generator, n: int, near_dup_share: float = 0.2
) -> pa.Table:
    """``n`` short synthetic documents; ``near_dup_share`` of them copy an
    earlier original (never a copy, so every duplicate cluster is a star
    and the clustering work does not swing with the seed) with one to
    three words replaced."""
    texts: list[np.ndarray] = []
    originals: list[int] = []
    for i in range(n):
        if len(originals) > 10 and rng.random() < near_dup_share:
            words = texts[originals[int(rng.integers(0, len(originals)))]].copy()
            for pos in rng.integers(0, len(words), int(rng.integers(1, 4))):
                words[pos] = _WORDS[rng.integers(0, len(_WORDS))]
        else:
            words = _WORDS[rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]
            originals.append(i)
        texts.append(words)
    text = [" ".join(w) for w in texts]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def embeddings(
    rng: np.random.Generator, n: int, dim: int = 64, near_dup_share: float = 0.1
) -> pa.Table:
    """Unit-scale float vectors; ``near_dup_share`` are jittered copies of
    originals."""
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    originals = list(range(10))
    for i in range(10, n):
        if rng.random() < near_dup_share:
            j = originals[int(rng.integers(0, len(originals)))]
            vecs[i] = vecs[j] + rng.normal(0, 0.01, dim).astype(np.float32)
        else:
            originals.append(i)
    flat = pa.array(vecs.reshape(-1))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat
            ),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def events(rng: np.random.Generator, n: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1, 400_000_000, n).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(t0 + np.cumsum(gaps)),
            "user_id": rng.integers(0, 100, n),
            "event_type": _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n)],
            "value": rng.integers(0, 10_000, n) / 100.0,
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    days = rng.integers(0, SHIP_DAYS, n).astype("timedelta64[D]")
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, max(n // 10, 1), n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": rng.integers(100_000, 50_000_000, n) / 100.0,
            "o_orderdate": pa.array((SHIP_EPOCH + days).astype("datetime64[us]")),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n)],
        }
    )
