"""Seeded input generators. The program under test sees only the
parquet files written here.

- `write_tables`: region, nation, customer, supplier, orders and
  lineitem with the column types and value domains of the engine's
  sf fixtures (uniform keys, the same categorical vocabularies,
  1995-2001 dates), so every TPC-H item finds rows.
- `write_corpus`: a Zipf-vocabulary English-like corpus with planted
  exact and near duplicates. The fixtures' 31-token uniform vocabulary
  is the documented worst case for selective-term and dedup work, so
  it cannot stand in for real text.

Seed-invariant in work: the seed moves which values land where, never
how much there is. Row and document counts, the vocabulary, the
planted duplicate counts, the multiset of document lengths (in
tokens), the number of typos and the per-source document counts are
the same for every seed.

Same seed, same bytes: every random draw comes from a
`numpy.random.default_rng((seed, stream))` with a fixed stream number
per input set, and the parquet writer is called with fixed options.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Real English function words in descending corpus frequency: the head
# of a Zipf vocabulary is what makes stopword ratios, quality scores
# and repetition filters behave as they do on real text.
HEAD_WORDS = (
    "the of and to a in is that for it as was with be by on not he i "
    "this are or his from at which but have an had they you were their "
    "one all we can her has there been if more when will would who so "
    "no what up out about into than them only other its some time could "
    "these two may then do first any my now such like our over man me "
    "even most made after also did many before must through back years "
    "where much your way well down should because each just those people"
).split()

# English letter frequencies (a..z), for tail-word spellings.
_LETTER_P = np.array([
    8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.15, 0.77, 4.0, 2.4,
    6.7, 7.5, 1.9, 0.095, 6.0, 6.3, 9.1, 2.8, 0.98, 2.4, 0.15, 2.0, 0.074,
])
_LETTER_P = _LETTER_P / _LETTER_P.sum()
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

#: Corpus shape: fixed for every seed.
CORPUS_SHAPE = {
    "vocab": 6000,
    "zipf_s": 1.07,
    "zipf_q": 2.7,
    "tokens_median": 110,
    "tokens_sigma": 0.45,
    "tokens_min": 30,
    "tokens_max": 400,
    "exact_dup_share": 0.05,
    "near_dup_share": 0.10,
    "near_dup_edits": 0.03,
    "typo_share": 0.004,
    "sources": 20,
}

#: Rows per unit of scale factor, as in the sf fixtures (sf0.1:
#: lineitem 600k, orders 150k, customer 15k, supplier 1k).
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000,
               "orders": 1_500_000, "lineitem": 6_000_000}
PARTS_PER_SF = 200_000  # lineitem's l_partkey domain


def _write(table: pa.Table, path: str) -> None:
    # fixed writer options so identical tables give identical bytes
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _dates(rng, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "D")
    d = base + rng.integers(0, days + 1, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the TPC-H-shaped tables under out_dir; returns the row
    count of each, which depends on sf only."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_ord, n_li = (max(10, int(ROWS_PER_SF[k] * sf)) for k in (
        "customer", "supplier", "orders", "lineitem"))
    n_part = max(10, int(PARTS_PER_SF * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                    "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": seg[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2403),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, n_li, "1995-01-02", 2498),
    })
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def zipf_vocabulary(rng, size: int) -> list[str]:
    """HEAD_WORDS, then unique letter strings whose lengths follow
    English word-type lengths (rarer words are longer)."""
    words = list(HEAD_WORDS)
    seen = set(words)
    while len(words) < size:
        mean = 4.0 + 3.0 * min(1.0, np.log10(len(words)) / 3.5)
        n = int(np.clip(rng.poisson(mean - 2.0) + 2, 2, 14))
        w = "".join(rng.choice(_LETTERS, size=n, p=_LETTER_P))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _typo(rng, w: str) -> str:
    """One deletion or substitution: symspell's distance-1 pairs."""
    i = int(rng.integers(0, len(w)))
    if rng.random() < 0.5 and len(w) > 3:
        return w[:i] + w[i + 1:]
    return w[:i] + str(_LETTERS[rng.integers(0, 26)]) + w[i + 1:]


def corpus_counts(n_docs: int) -> dict[str, int]:
    """Planted document counts: the same for every seed."""
    s = CORPUS_SHAPE
    n_exact = round(n_docs * s["exact_dup_share"])
    n_near = round(n_docs * s["near_dup_share"])
    return {"documents": n_docs, "exact_dups": n_exact, "near_dups": n_near,
            "originals": n_docs - n_exact - n_near}


def original_lengths(n_orig: int) -> np.ndarray:
    """Token counts of the original documents, ascending: lognormal
    quantiles at fixed probabilities, so the multiset never moves with
    the seed."""
    from statistics import NormalDist

    s = CORPUS_SHAPE
    z = np.array([NormalDist().inv_cdf((i + 0.5) / n_orig)
                  for i in range(n_orig)])
    x = np.exp(np.log(s["tokens_median"]) + s["tokens_sigma"] * z)
    return np.clip(np.round(x), s["tokens_min"], s["tokens_max"]).astype(int)


def corpus_texts(seed: int, n_docs: int) -> list[str]:
    """The corpus documents in doc_id order (see CORPUS_SHAPE).

    Originals take their lengths from original_lengths in a seeded
    order. Each duplicate copies the original of a fixed length rank
    (evenly spread over the ranks), so the multiset of document
    lengths is the same for every seed; only which doc_ids hold the
    duplicates, and the words, move with it."""
    s = CORPUS_SHAPE
    c = corpus_counts(n_docs)
    n_orig, n_exact, n_near = c["originals"], c["exact_dups"], c["near_dups"]
    # one vocabulary for every seed: its spellings decide how many
    # words sit within one edit of each other (symspell's pairs)
    words = np.array(zipf_vocabulary(np.random.default_rng([0, 4]),
                                     s["vocab"]))
    rng = np.random.default_rng([seed, 2])
    # Zipf-Mandelbrot: the offset brings the top word to real-text
    # share ("the" ~6-7% of tokens) instead of pure Zipf's ~12%
    p = 1.0 / (np.arange(1, s["vocab"] + 1) + s["zipf_q"]) ** s["zipf_s"]
    p /= p.sum()
    lengths = original_lengths(n_orig)
    toks = [list(words[rng.choice(len(words), n, p=p)]) for n in lengths]
    # exactly round(typo_share * tokens) typos over the originals
    flat = np.cumsum([0, *lengths])
    n_typo = round(flat[-1] * s["typo_share"])
    for pos in rng.choice(flat[-1], n_typo, replace=False):
        d = int(np.searchsorted(flat, pos, side="right") - 1)
        j = int(pos - flat[d])
        toks[d][j] = _typo(rng, str(toks[d][j]))
    docs = [" ".join(map(str, t)) for t in toks]
    # duplicates: fixed length ranks, seeded kind order
    n_dup = n_exact + n_near
    ranks = ((np.arange(n_dup) + 0.5) * n_orig / n_dup).astype(int)
    kinds = rng.permutation([0] * n_exact + [1] * n_near)
    for r, kind in zip(ranks, kinds):
        src = docs[r].split(" ")
        if kind:
            k = max(2, int(len(src) * s["near_dup_edits"]))
            for j in rng.choice(len(src), size=k, replace=False):
                src[int(j)] = str(words[rng.choice(len(words), p=p)])
        docs.append(" ".join(src))
    order = rng.permutation(n_docs)
    return [docs[i] for i in order]


def corpus_table(seed: int, n_docs: int) -> pa.Table:
    texts = corpus_texts(seed, n_docs)
    rng = np.random.default_rng([seed, 3])
    # per-source counts ~ 1/k, fixed; which docs belong where is seeded
    w = 1.0 / np.arange(1, CORPUS_SHAPE["sources"] + 1)
    counts = np.floor(n_docs * w / w.sum()).astype(int)
    counts[0] += n_docs - counts.sum()
    src = rng.permutation(np.repeat(np.arange(len(counts)), counts))
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{k}" for k in src],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def write_corpus(data_dir: str, seed: int, n_docs: int) -> dict[str, int]:
    """documents.parquet under data_dir; returns the sizes."""
    table = corpus_table(seed, n_docs)
    os.makedirs(data_dir, exist_ok=True)
    _write(table, os.path.join(data_dir, "documents.parquet"))
    sizes = corpus_counts(n_docs)
    sizes["tokens"] = int(sum(len(t.split(" ")) for t in
                              table.column("text").to_pylist()))
    return sizes
