"""Seeded input generator for the benchmark workloads.

Everything a workload feeds the engine comes from here: the corpus (as
``documents.parquet``, the table ``TextIndex``, ``build_text_triplets``
and ``CorpusPipeline`` all read), the query batches, the vector probes,
the ingest deltas with planted near-duplicates, the delete sets, and
the small star schema plus events table the suite pass reads.
The same seed gives byte-identical inputs; the engine sees only what
this module writes or returns.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

LANGS = ("de", "en", "es", "fr", "zh")
N_SOURCES = 20
# query and probe ids live far above any doc id a run can mint, because
# the strict IVF search drops the neighbor whose id equals the probe id
QUERY_ID_BASE = 900_000_000
# a planted near-duplicate copies a source doc and swaps one token; with
# word 3-shingles a source of >= 40 tokens keeps Jaccard >= 0.9, far
# above the pipeline's tau of 0.5
_DUP_MIN_TOKENS = 40


class Inputs:
    """One workload's seeded input stream.

    ``vocab`` words are ranked; corpus tokens and query terms are drawn
    Zipf-skewed over that ranking (``zipf`` and ``query_zipf`` are the
    exponents), so low ranks are shared by many docs and many queries.
    """

    def __init__(self, seed: int, vocab: int, zipf: float, query_zipf: float):
        self.rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words: set[str] = set()
        while len(words) < vocab:
            n = int(self.rng.integers(3, 9))
            words.add("".join(self.rng.choice(letters, n)))
        # sorted then shuffled by the seeded rng: the rank order is seed-
        # dependent but independent of Python's set iteration order
        self.vocab = np.array(sorted(words))
        self.rng.shuffle(self.vocab)
        self.p_doc = _zipf(vocab, zipf)
        self.p_query = _zipf(vocab, query_zipf)

    # -- corpus --------------------------------------------------------
    def docs(self, n: int, first_id: int = 0) -> pd.DataFrame:
        lens = self.rng.integers(10, 100, n)
        toks = self.rng.choice(len(self.vocab), int(lens.sum()), p=self.p_doc)
        texts, at = [], 0
        for ln in lens:
            texts.append(" ".join(self.vocab[toks[at : at + ln]]))
            at += ln
        ids = np.arange(first_id, first_id + n, dtype=np.int64)
        return _frame(ids, texts, self.rng)

    def delta(
        self, corpus_sources: pd.DataFrame, n: int, first_id: int, dup_rate: float
    ) -> tuple[pd.DataFrame, set[int]]:
        """``n`` new docs with ids from ``first_id``; ``dup_rate`` of them
        are planted near-duplicates: half copy a doc of
        ``corpus_sources``, half copy an earlier fresh doc of the same
        delta (a lower id, so the copy is the one dedup removes).
        Returns (delta, planted ids)."""
        n_dup = int(round(n * dup_rate))
        fresh = self.docs(n - n_dup, first_id)
        long_src = corpus_sources[corpus_sources.text.str.count(" ") + 1 >= _DUP_MIN_TOKENS]
        long_fresh = fresh[fresh.text.str.count(" ") + 1 >= _DUP_MIN_TOKENS]
        texts = []
        for i in range(n_dup):
            pool = long_src if (i % 2 == 0 or long_fresh.empty) else long_fresh
            src = pool.text.iloc[int(self.rng.integers(len(pool)))].split(" ")
            pos = int(self.rng.integers(len(src)))
            src[pos] = self.vocab[int(self.rng.integers(len(self.vocab)))]
            texts.append(" ".join(src))
        dup_ids = np.arange(first_id + len(fresh), first_id + n, dtype=np.int64)
        dups = _frame(dup_ids, texts, self.rng)
        return pd.concat([fresh, dups], ignore_index=True), set(dup_ids.tolist())

    # -- reads ---------------------------------------------------------
    def query_batch(self, size: int, terms: tuple[int, int]) -> tuple:
        """``size`` queries of ``terms[0]..terms[1]`` distinct terms,
        Zipf-skewed over the vocabulary ranks."""
        out = []
        for i in range(size):
            n = int(self.rng.integers(terms[0], terms[1] + 1))
            picks: list[str] = []
            while len(picks) < n:
                w = str(self.vocab[self.rng.choice(len(self.vocab), p=self.p_query)])
                if w not in picks:
                    picks.append(w)
            out.append((QUERY_ID_BASE + i, tuple(picks)))
        return tuple(out)

    def probes(self, vectors: dict[int, np.ndarray], live: list[int], size: int, noise: float) -> list:
        """``size`` probes: a live doc's vector plus seeded gaussian
        noise, re-normalized, under ids ``QUERY_ID_BASE + i`` (so probe
        i pairs with query i in a hybrid batch)."""
        picks = self.rng.choice(len(live), size, replace=len(live) < size)
        out = []
        for i, j in enumerate(picks):
            v = vectors[live[j]] + noise * self.rng.standard_normal(len(vectors[live[j]]))
            out.append((QUERY_ID_BASE + i, (v / np.linalg.norm(v)).astype(np.float32)))
        return out

    def delete_set(self, live: list[int], size: int) -> list[int]:
        picks = self.rng.choice(len(live), min(size, len(live)), replace=False)
        return sorted(int(live[j]) for j in picks)


def write_docs(df: pd.DataFrame, corpus_dir: str) -> str:
    """Write ``df`` as ``<corpus_dir>/documents.parquet`` (the layout
    the engine's fixture loader expects) and return ``corpus_dir``."""
    os.makedirs(corpus_dir, exist_ok=True)
    df.to_parquet(os.path.join(corpus_dir, "documents.parquet"), index=False)
    return corpus_dir


def write_star_schema(seed: int, out_dir: str, docs: pd.DataFrame, orders: int = 3000) -> dict[str, int]:
    """A seeded TPC-H-like star schema plus an ``events`` table, in the
    fixture layout (``<out_dir>/<table>.parquet``, with the fixture's
    column names and types) and ``docs`` as ``documents``. Dates and
    categories cover every filter of the suite's queries; money carries
    two decimals, as in the fixture. Returns each table's row count."""
    rng = np.random.default_rng([seed, 7])  # a stream of its own
    n_cust, n_supp, n_part, n_events, n_users = orders // 10, 20, 400, orders, 50

    def pick(choices, n):
        return rng.choice(np.array(choices), n)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def names(prefix, n):
        return [f"{prefix}#{i:09d}" for i in range(n)]

    order_day = np.datetime64("1995-01-01", "us") + rng.integers(0, 4 * 365, orders).astype("timedelta64[D]")
    lines = rng.integers(1, 8, orders)
    l_order = np.repeat(np.arange(orders), lines)
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    event_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)).astype("timedelta64[us]")
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999, 9999, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(pick(["cold", "small"], n_part), pick(["widget", "bolt"], n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + 0.1 * np.arange(n_part), 2),
        },
        "orders": {
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, orders),
            "o_orderstatus": pick(["F", "O", "P"], orders),
            "o_totalprice": money(1000, 400_000, orders),
            "o_orderdate": order_day,
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], orders),
        },
        "lineitem": {
            "l_orderkey": l_order.astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": np.concatenate([np.arange(1, n + 1) for n in lines]).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["N", "A", "R"], n_li),
            "l_linestatus": pick(["O", "F"], n_li),
            "l_shipdate": order_day[l_order] + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
        },
        "events": {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + event_us,
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": pick(["view", "click", "purchase", "signup", "error"], n_events),
            "value": money(0, 500, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    write_docs(docs, out_dir)
    rows = {"documents": len(docs)}
    for name, cols in tables.items():
        df = pd.DataFrame(cols)
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
        rows[name] = len(df)
    return rows


def _zipf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _frame(ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), len(ids))],
            "source": [f"src{int(i) % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
