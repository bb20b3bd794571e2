"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files and returns identical values, so a
run can be repeated exactly and two seeds give two different inputs.
The program under test only ever sees the files written here.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass

import numpy as np

# -- survey CSV --------------------------------------------------------------

# the reference's filler set (cells that never reach a classifier)
FILLERS = ("", "n/a", "N/A", "no", "None", "none", "nan", "-",
           "sin comentarios", "ninguno", "NA", "null")
PRODUCTS = ("Alpha Jacket", "Beta Boots", "Gamma Scarf", "Delta Watch",
            "Epsilon Bag", "Zeta Gloves")
QUESTIONS = (
    "How was your experience with the product?",
    "¿Qué opinas del envío?",
    "What would you improve?",
)
_EMOJI = ("\U0001F600", "\U0001F44D", "\U0001F621", "\U0001F60D",
          "\U0001F914")
_EN_OPEN = ("I love the", "The", "Really bad", "Great", "Not sure about the",
            "Terrible", "Good value for the", "Amazing", "Poor",
            "Too expensive for the")
_EN_ASPECT = ("price", "shipping", "quality", "fit", "design", "support",
              "color", "delivery", "material", "size", "refund", "style")
_EN_TAIL = ("but it arrived late", "and I would buy again",
            "though support was slow", "overall", "for the money",
            "compared to last time", "honestly", "this season")
_ES_OPEN = ("Me encanta el", "Muy malo el", "Excelente", "El", "Caro el",
            "Bueno el", "No me gustó el", "Genial el")
_ES_ASPECT = ("precio", "envío", "diseño", "material", "talla", "color",
              "servicio", "estilo", "soporte", "tamaño")
_ES_TAIL = ("pero llegó tarde", "y lo volvería a comprar", "la verdad",
            "aunque la atención fue lenta", "en general")


def _answer_pool(rng: random.Random, size: int, spanish: bool) -> list[str]:
    opens, aspects, tails = ((_ES_OPEN, _ES_ASPECT, _ES_TAIL) if spanish
                             else (_EN_OPEN, _EN_ASPECT, _EN_TAIL))
    pool: list[str] = []
    seen: set[str] = set()
    while len(pool) < size:
        words = [rng.choice(opens), rng.choice(aspects), rng.choice(tails)]
        if rng.random() < 0.5:
            words.append(f"#{rng.randrange(10_000)}")
        text = " ".join(words)
        if text not in seen:
            seen.add(text)
            pool.append(text)
    return pool


# answer-pool size per response and its Zipf exponent: together they set
# the distinct-key share of non-filler cells (~0.15; the reference's
# bundled data has 278 / 2,071)
POOL_FRAC, ZIPF_S = 0.12, 0.5
FILLER_P, EMOJI_P, LONG_P = 0.17, 0.08, 0.002


def write_survey_csv(path: str, seed: int, n_responses: int) -> None:
    """Reference-shaped survey: ``Email, Name, Products`` then three EN/ES
    question columns; 1-3 of six products per response; FILLER_P of
    cells from the filler set, EMOJI_P of answers with an emoji and a
    LONG_P share of answers over 600 chars. Answers are drawn Zipf-style
    from a per-question pool of POOL_FRAC * n_responses texts, so repeated
    answers (the memo cache's hits) follow a skewed popularity."""
    rng = random.Random(seed)
    pool_size = max(8, int(POOL_FRAC * n_responses))
    pools = [_answer_pool(rng, pool_size, spanish=(i % 2 == 1))
             for i in range(len(QUESTIONS))]
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(pool_size)]
    cum = list(np.cumsum(weights))
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["Email", "Name", "Products", *QUESTIONS])
        for i in range(n_responses):
            prods = ", ".join(rng.sample(PRODUCTS, rng.randint(1, 3)))
            row = [f"user{i}@example.com", f"User {i}", prods]
            for pool in pools:
                if rng.random() < FILLER_P:
                    row.append(rng.choice(FILLERS))
                    continue
                ans = rng.choices(pool, cum_weights=cum)[0]
                if rng.random() < EMOJI_P:
                    ans = f"{ans} {rng.choice(_EMOJI)}"
                if rng.random() < LONG_P:
                    ans = " ".join([ans] * (620 // len(ans) + 2))
                row.append(ans)
            w.writerow(row)


# -- curation corpus ----------------------------------------------------------

_VOCAB = ("batch", "part", "spark", "line", "column", "order", "small",
          "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
          "filter", "query", "big", "key", "window", "row", "table",
          "stream", "merge", "data", "vector", "index", "shard", "token",
          "cache", "plan", "join", "skew", "node", "task", "stage", "file",
          "page", "block", "frame", "tree", "graph", "edge", "cell", "lane",
          "queue", "batching", "commit", "replay", "epoch", "delta",
          "schema", "codec", "buffer", "driver", "worker", "executor",
          "memory", "disk", "network", "shuffle", "bucket", "prune",
          "probe", "rank", "score", "term", "posting", "corpus", "model")
_STOP = ("the", "and", "of", "to", "is", "for", "with", "was")
_BOILER = ("Copyright 2024 all rights reserved. Click here to subscribe to "
           "the newsletter.")


_VOCAB_P = 1.0 / np.arange(1, len(_VOCAB) + 1) ** 1.1
_VOCAB_P /= _VOCAB_P.sum()


def _doc_text(rng: np.random.Generator, n_tokens: int) -> str:
    """Zipf-distributed vocabulary words, a quarter of them preceded by
    an English stopword (the quality filter wants >= 2 stopwords)."""
    words = rng.choice(_VOCAB, size=n_tokens, p=_VOCAB_P)
    stops = rng.random(n_tokens) < 0.25
    out = [(_STOP[int(rng.integers(len(_STOP)))] + " " + w) if s else w
           for w, s in zip(words.tolist(), stops.tolist())]
    return " ".join(out)


def search_terms(seed: int) -> tuple[str, ...]:
    """A search query of 2-4 distinct terms, drawn with the corpus's own
    Zipf weights over its vocabulary."""
    rng = np.random.default_rng([seed, 29])
    return tuple(rng.choice(_VOCAB, size=int(rng.integers(2, 5)),
                            replace=False, p=_VOCAB_P).tolist())


@dataclass
class Corpus:
    rows: list[tuple]        # (doc_id, text)
    n_originals: int
    n_exact_copies: int
    n_near_dups: int


EXACT_P, NEAR_P, REPLACE_P = 0.10, 0.20, 0.05
PII_P, BOILER_P = 0.15, 0.10


def curation_corpus(seed: int, n_docs: int) -> Corpus:
    """Mutated corpus for the curation job: originals, EXACT_P exact
    copies, NEAR_P near-duplicates with REPLACE_P of their words replaced,
    plus PII lines (PII_P) and boilerplate (BOILER_P) injected into
    originals. Rows are shuffled so copies are not adjacent to their
    source."""
    rng = np.random.default_rng([seed, 23])
    n_exact = int(EXACT_P * n_docs)
    n_near = int(NEAR_P * n_docs)
    n_orig = n_docs - n_exact - n_near
    originals = []
    for doc_id in range(n_orig):
        # ~8% fall under the quality filter's 50-token floor
        n_tok = int(rng.integers(12, 45) if rng.random() < 0.08
                    else rng.integers(55, 140))
        text = _doc_text(rng, n_tok)
        extra = []
        r = rng.random()
        if r < PII_P / 3:
            extra.append(f"contact user{doc_id}@example.com for details")
        elif r < 2 * PII_P / 3:
            extra.append(f"see https://example.org/d/{doc_id} for the data")
        elif r < PII_P:
            extra.append(f"call 555-{doc_id % 1000:03d}-{doc_id % 10000:04d}")
        if rng.random() < BOILER_P:
            extra.append(_BOILER)
        originals.append(" ".join([text, *extra]))
    texts = list(originals)
    src = rng.integers(0, n_orig, size=n_exact + n_near)
    for j in range(n_exact):
        texts.append(originals[int(src[j])])
    for j in range(n_near):
        words = originals[int(src[n_exact + j])].split(" ")
        swap = rng.random(len(words)) < REPLACE_P
        picks = rng.integers(0, len(_VOCAB), size=len(words))
        texts.append(" ".join(_VOCAB[int(p)] if s else w
                              for w, s, p in zip(words, swap.tolist(),
                                                 picks.tolist())))
    order = rng.permutation(len(texts))
    rows = [(int(k), texts[int(o)]) for k, o in enumerate(order)]
    return Corpus(rows, n_orig, n_exact, n_near)


# -- star schema + events ------------------------------------------------------

def write_star_tables(out_dir: str, seed: int, sf: float) -> None:
    """TPC-H-shaped tables (region, nation, customer, supplier, part,
    orders, lineitem) plus ``events``, with the column names, types and
    value domains the registry's star and event queries filter on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 41])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))

    def day(start: str, n_days: int, size: int) -> np.ndarray:
        base = np.datetime64(start, "us")
        off = rng.integers(0, n_days, size=size).astype("timedelta64[D]")
        return base + off.astype("timedelta64[us]")

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size=size), 2)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": regions},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust)},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999, 9999, n_supp)},
    }
    adj = ["large", "hot", "small", "green", "shiny", "old", "cheap"]
    noun = ["ring", "bolt", "widget", "gear", "valve", "spring", "panel"]
    tables["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part),
                                             rng.choice(noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "PROMO",
                              "SMALL"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": day("1992-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord),
    }
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines)
              + 1).astype(np.int32)
    ship = (tables["orders"]["o_orderdate"][okey]
            + rng.integers(1, 122, n_li).astype("timedelta64[D]")
            .astype("timedelta64[us]"))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": ship,
    }
    users = max(50, n_ev // 50)
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 28 * 86_400 * 10**6, n_ev)).astype("timedelta64[us]")
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n_ev).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "error"],
                                 n_ev, p=[0.6, 0.25, 0.1, 0.05]),
        "value": money(0, 200, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    for name, cols in tables.items():
        tbl = pa.table({k: (v if not isinstance(v, np.ndarray)
                            or v.dtype.kind != "U" else v.tolist())
                        for k, v in cols.items()})
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
