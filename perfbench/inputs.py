"""Seeded synthetic inputs shaped like the sf0.1 ``lineitem`` and
``documents`` test tables.

The benchmark builds its own inputs so that a run reads nothing outside its
checkout and the same ``--seed`` always gives the same tables. Every shape
parameter below was measured on the sf0.1 tables (see ``perfbench/README.md``):

- lineitem: 600,000 rows whose 11 columns are independent and uniform over
  the measured ranges; ``(l_orderkey, l_linenumber)`` is not unique there
  (143k repeated pairs), and is not unique here either;
- documents: 5,000 texts of 10-99 words drawn uniformly from a 30-word
  vocabulary; 250 near copies (an earlier document plus the word ``dup``)
  and 8 exact copies.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

LINEITEM_ROWS = 600_000
SHIP_DAY0 = np.datetime64("1995-01-02")
SHIP_DAYS = 2499

VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window",
])
NEAR_MARK = "dup"
N_DOCS, N_NEAR, N_EXACT = 5000, 250, 8
MIN_WORDS, MAX_WORDS = 10, 100  # exclusive upper bound
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
N_SOURCES = 20


def lineitem(seed: int, n: int = LINEITEM_ROWS) -> pd.DataFrame:
    """The 11 estimator columns, each drawn independently."""
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n // 4, n),
            "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": (SHIP_DAY0 + rng.integers(0, SHIP_DAYS, n).astype("timedelta64[D]"))
            .astype("datetime64[us]"),
        }
    )


def documents(seed: int, n: int = N_DOCS) -> pd.DataFrame:
    """``doc_id, text, lang, source, n_chars``. ``N_NEAR`` documents copy
    distinct originals plus the word ``dup``; ``N_EXACT`` more copy distinct
    earlier documents, near copies included. Shuffled among the rest, they
    give every seed's near-dup pass the same number of pairs to find."""
    rng = np.random.default_rng(seed)
    n_near, n_exact = n * N_NEAR // N_DOCS, n * N_EXACT // N_DOCS
    n_orig = n - n_near - n_exact
    texts = [" ".join(rng.choice(VOCAB, rng.integers(MIN_WORDS, MAX_WORDS)))
             for _ in range(n_orig)]
    texts += [texts[i] + " " + NEAR_MARK for i in rng.choice(n_orig, n_near, replace=False)]
    texts += [texts[i] for i in rng.choice(len(texts), n_exact, replace=False)]
    order = rng.permutation(n)
    text = np.array(texts, dtype=object)[order]
    lang, p = zip(*LANGS)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(np.array(lang), n, p=p),
        "source": np.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def search_queries(seed: int, n: int) -> list[tuple[int, str]]:
    """``n`` probe queries of three distinct vocabulary words each, the shape
    of the package's own BM25 probe queries ("hash join merge")."""
    rng = np.random.default_rng(seed + 1)
    return [(i, " ".join(rng.choice(VOCAB, 3, replace=False))) for i in range(n)]
