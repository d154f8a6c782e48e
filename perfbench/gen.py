"""Seeded synthetic inputs with the schemas and sizes of the sf0.1 tables.

The benchmark may read nothing outside its checkout, so it cannot load the
shared test data; it generates tables of the same shape instead. ``scale``
1.0 gives the sf0.1 row counts (lineitem 600k, orders 150k); the self-test
uses 0.01 (the sf0.001 sizes). The same seed always gives the same frames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

LINEITEM_ROWS = 600_000
ORDERS_ROWS = 150_000

_FLAGS = np.array(["A", "N", "R"], dtype=object)
_STATUS = np.array(["F", "O"], dtype=object)
_ORDER_STATUS = np.array(["F", "O", "P"], dtype=object)
_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
)
_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_DAY_US = 86_400_000_000


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = rng.integers(0, 7 * 365, n)
    return _EPOCH_1992 + (days * _DAY_US).astype("timedelta64[us]")


def lineitem(seed: int, scale: float = 1.0) -> pd.DataFrame:
    """Rows in random order (so ``put`` with ``order_by`` really sorts);
    ``(l_orderkey, l_linenumber)`` is unique."""
    rng = np.random.default_rng([seed, 1])
    n = max(1, int(LINEITEM_ROWS * scale))
    lines = rng.integers(1, 8, n)  # lines per order, mean 4
    ends = np.cumsum(lines)
    k = int(np.searchsorted(ends, n)) + 1
    lines = lines[:k]
    lines[-1] -= int(ends[k - 1]) - n
    orderkey = np.repeat(np.arange(k, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    df = pd.DataFrame({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, 20_000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _FLAGS[rng.integers(0, 3, n)],
        "l_linestatus": _STATUS[rng.integers(0, 2, n)],
        "l_shipdate": _dates(rng, n),
    })
    return df.iloc[rng.permutation(n)].reset_index(drop=True)


def orders(seed: int, scale: float = 1.0, start_key: int = 0,
           n: int | None = None) -> pd.DataFrame:
    """``o_orderkey`` runs from ``start_key`` upward, so a table and the
    payloads later appended to it never share a key. ``o_orderdate`` is a
    day number since 1970 (int32), a type an HDF5 compound table holds."""
    rng = np.random.default_rng([seed, 2, start_key])
    if n is None:
        n = max(1, int(ORDERS_ROWS * scale))
    return pd.DataFrame({
        "o_orderkey": np.arange(start_key, start_key + n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, n, dtype=np.int64),
        "o_orderstatus": _ORDER_STATUS[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, n), 2),
        "o_orderdate": _dates(rng, n).astype("datetime64[D]").astype(np.int32),
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
    })


def grid(seed: int, shape: tuple[int, int]) -> np.ndarray:
    """A 2-d float64 array for the ``Dataset`` ops."""
    rng = np.random.default_rng([seed, 3, *shape])
    return np.round(rng.normal(0.0, 100.0, shape), 3)


_WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch of and to in is it".split(), dtype=object)
_LANGS = np.array(["de", "en", "en", "es", "fr", "zh"], dtype=object)


def documents(seed: int, n_base: int = 2_000) -> pd.DataFrame:
    """A corpus with the sf0.1 ``documents`` schema and near-duplicate
    clusters: ``n_base`` documents of 5-100 words (one in eight padded with
    non-alphabetic noise, which the quality filter drops), a third of them
    copied one to three times with one or two words replaced, and one in
    twenty copied verbatim. Rows are shuffled and numbered by ``doc_id``."""
    rng = np.random.default_rng([seed, 4])
    texts, langs, srcs = [], [], []
    for i in range(n_base):
        words = list(_WORDS[rng.integers(0, len(_WORDS), rng.integers(5, 101))])
        if rng.random() < 0.125:
            words += ["#%d;" % x for x in rng.integers(0, 10**6, len(words))]
        lang, src = _LANGS[rng.integers(0, len(_LANGS))], f"src{i % 5}"
        copies = [words]
        if rng.random() < 1 / 3:
            for _ in range(int(rng.integers(1, 4))):
                w = list(words)
                for j in rng.integers(0, len(w), int(rng.integers(1, 3))):
                    w[j] = _WORDS[rng.integers(0, len(_WORDS))]
                copies.append(w)
        if rng.random() < 0.05:
            copies.append(words)
        for w in copies:
            texts.append(" ".join(w))
            langs.append(lang)
            srcs.append(src)
    order = rng.permutation(len(texts))
    text = np.array(texts, dtype=object)[order]
    return pd.DataFrame({
        "doc_id": np.arange(len(text), dtype=np.int64),
        "text": text,
        "lang": np.array(langs, dtype=object)[order],
        "source": np.array(srcs, dtype=object)[order],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def embeddings(seed: int, n_base: int = 1_500, dims: int = 64) -> pd.DataFrame:
    """Unit vectors with the sf0.1 ``embeddings`` schema: ``n_base`` random
    directions, a fifth of them copied with small noise (so near-duplicate
    pairs exist), labels 0-9."""
    rng = np.random.default_rng([seed, 5])
    base = rng.normal(size=(n_base, dims))
    dup = np.flatnonzero(rng.random(n_base) < 0.2)
    near = base[dup] + rng.normal(scale=0.02, size=(len(dup), dims))
    vecs = np.vstack([base, near])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs[rng.permutation(len(vecs))].astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, len(vecs)).astype(np.int32),
    })
