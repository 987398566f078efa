"""Seeded input generators: a text corpus and a query stream.

Everything here is a pure function of (seed, size). The program under
test only ever sees the parquet files and query strings produced here.
Files are cached on disk under a directory named by (kind, seed, size),
so generation never runs inside a timed region and a repeated seed
reuses its inputs byte for byte.

Words are alphabetic only: the engine's tokenizer splits on non-letters,
so a word like ``w123`` would collapse to ``w`` and erase the corpus's
vocabulary (and with it every near-duplicate the curation pipeline should
find).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 30_000
ZIPF_S = 1.07
DOC_TOKENS = (20, 120)
STOP_SHARE = 0.30            # stopword share of a normal document
HEAD_RANKS = 50              # a query's head term: one of the 50 commonest words
TAIL_RANKS = (500, 10_000)   # its two tail terms: ranks drawn from this range
FUZZY_SHARE = 0.10

# Document kinds and their shares. Short and stopword-heavy documents
# fail the curation quality gate; exact and one-token-edit copies feed
# the exact and MinHash near-duplicate stages.
KIND_SHARES = {
    "normal": 0.82,
    "short": 0.04,
    "stopword_heavy": 0.04,
    "exact_dup": 0.04,
    "near_dup": 0.06,
}

# Common English function words. Written out here, not imported, so the
# inputs do not change when the program's own stopword list does.
STOPWORDS = (
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it", "as",
    "was", "with", "be", "by", "on", "not", "he", "this", "are", "or",
    "his", "from", "at", "which", "but", "have", "an", "they", "you",
    "were", "her", "she", "will", "their", "we", "had", "been", "has",
    "its", "so", "them", "i",
)

_ONSETS = ("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "ch", "cl", "cr", "dr", "fl", "gr",
           "pl", "pr", "sh", "sl", "sp", "st", "th", "tr")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
_CODAS = ("", "", "", "n", "r", "s", "t", "l", "m", "nd", "st", "rk", "ng")


def stream_rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so that adding a stream
    never shifts the numbers another stream draws."""
    tag = int.from_bytes(stream.encode(), "little") % (1 << 32)
    return np.random.default_rng([seed, tag])


def vocabulary(seed: int, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct lowercase alphabetic words of 3+ letters,
    ordered by Zipf rank (index 0 is the commonest)."""
    rng = stream_rng(seed, "vocab")
    stop = set(STOPWORDS)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = size - len(words)
        syl = rng.integers(1, 4, size=n)
        ons = rng.integers(0, len(_ONSETS), size=(n, 3))
        vow = rng.integers(0, len(_VOWELS), size=(n, 3))
        cod = rng.integers(0, len(_CODAS), size=n)
        for i in range(n):
            w = "".join(
                _ONSETS[ons[i, j]] + _VOWELS[vow[i, j]] for j in range(syl[i])
            ) + _CODAS[cod[i]]
            if len(w) >= 3 and w not in seen and w not in stop:
                seen.add(w)
                words.append(w)
    return words


def zipf_probs(size: int = VOCAB_SIZE, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
    return p / p.sum()


@dataclass(frozen=True)
class Corpus:
    path: str           # directory holding documents.parquet
    kinds: dict         # document kind -> count
    vocab: list         # words by Zipf rank


def _doc_tokens(rng, n, words, probs, stop_share, lo, hi):
    """``n`` token lists: lengths uniform in [lo, hi], each token a
    stopword with probability ``stop_share``, else a Zipf draw."""
    lens = rng.integers(lo, hi + 1, size=n)
    total = int(lens.sum())
    content = rng.choice(len(words), size=total, p=probs)
    is_stop = rng.random(total) < stop_share
    stops = rng.integers(0, len(STOPWORDS), size=total)
    out, pos = [], 0
    for ln in lens:
        toks = [
            STOPWORDS[stops[j]] if is_stop[j] else words[content[j]]
            for j in range(pos, pos + ln)
        ]
        out.append(toks)
        pos += ln
    return out


def make_corpus_tables(seed: int, n_docs: int):
    """(documents arrow table, kind counts, vocabulary)."""
    rng = stream_rng(seed, "corpus")
    words = vocabulary(seed)
    probs = zipf_probs(len(words))
    kinds = rng.choice(
        list(KIND_SHARES), size=n_docs, p=list(KIND_SHARES.values())
    )
    # Copies need an earlier original, so the first documents are normal.
    kinds[:20] = "normal"
    counts = {k: int((kinds == k).sum()) for k in KIND_SHARES}
    normal = iter(_doc_tokens(rng, counts["normal"], words, probs, STOP_SHARE, *DOC_TOKENS))
    short = iter(_doc_tokens(rng, counts["short"], words, probs, STOP_SHARE, 3, 9))
    heavy = iter(_doc_tokens(rng, counts["stopword_heavy"], words, probs, 0.75, *DOC_TOKENS))
    texts: list[str] = []
    originals: list[int] = []   # doc_ids of normal documents so far
    for doc_id, kind in enumerate(kinds):
        if kind == "normal":
            toks = next(normal)
            originals.append(doc_id)
            texts.append(" ".join(toks))
        elif kind == "short":
            texts.append(" ".join(next(short)))
        elif kind == "stopword_heavy":
            texts.append(" ".join(next(heavy)))
        else:
            src = texts[originals[int(rng.integers(0, len(originals)))]]
            if kind == "near_dup":
                toks = src.split(" ")
                i = int(rng.integers(0, len(toks)))
                repl = words[int(rng.integers(0, len(words)))]
                toks[i] = repl if repl != toks[i] else words[0]
                src = " ".join(toks)
            texts.append(src)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array([f"src{i % 7}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, counts, words


def _cached(root: str, name: str, build) -> str:
    """Build into ``root/name`` once; a finished directory holds a
    ``meta.json`` written last, so an interrupted build is redone."""
    out = os.path.join(root, name)
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def corpus(root: str, seed: int, n_docs: int) -> Corpus:
    def build(d):
        table, counts, words = make_corpus_tables(seed, n_docs)
        pq.write_table(table, os.path.join(d, "documents.parquet"))
        with open(os.path.join(d, "vocab.json"), "w") as f:
            json.dump(words, f)
        return {"seed": seed, "n_docs": n_docs, "kinds": counts}

    path = _cached(root, f"corpus-s{seed}-n{n_docs}", build)
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    with open(os.path.join(path, "vocab.json")) as f:
        vocab = json.load(f)
    return Corpus(path, meta["kinds"], vocab)


@dataclass(frozen=True)
class Request:
    q: str
    fuzzy: bool


def _typo(rng, word: str, known: set) -> str:
    """One substituted letter, giving a word outside the vocabulary."""
    for _ in range(100):
        i = int(rng.integers(0, len(word)))
        c = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(0, 26))]
        w = word[:i] + c + word[i + 1:]
        if w not in known:
            return w
    raise ValueError(f"no typo of {word!r} outside the vocabulary")


def query_terms(rng, vocab: list, n: int, fuzzy_share: float = FUZZY_SHARE):
    """``n`` (terms, fuzzy) pairs: one head term and two tail terms each;
    a fuzzy query has one tail term misspelled."""
    known = set(vocab)
    heads = rng.integers(0, HEAD_RANKS, size=n)
    tails = rng.integers(TAIL_RANKS[0], TAIL_RANKS[1], size=(n, 2))
    fuzzy = rng.random(n) < fuzzy_share
    out = []
    for i in range(n):
        terms = [vocab[heads[i]], vocab[tails[i, 0]], vocab[tails[i, 1]]]
        if fuzzy[i]:
            terms[2] = _typo(rng, terms[2], known)
        out.append((terms, bool(fuzzy[i])))
    return out


def request_stream(seed: int, vocab: list, sizes: list) -> list:
    """One list of ``n`` Requests per ``n`` in ``sizes``, query terms from
    ``seed``."""
    rng = stream_rng(seed, "queries")
    return [
        [Request(" ".join(terms), fz) for terms, fz in query_terms(rng, vocab, n)]
        for n in sizes
    ]


def traffic_mix(requests: list, vocab: list) -> dict:
    """Measured shares of the query stream actually sent."""
    head = set(vocab[:HEAD_RANKS])
    terms = [t for r in requests for t in r.q.split()]
    qs = [r.q for r in requests]
    n = max(1, len(requests))
    return {
        "requests": len(requests),
        "head_term_share": sum(t in head for t in terms) / max(1, len(terms)),
        "tail_term_share": sum(t not in head for t in terms) / max(1, len(terms)),
        "fuzzy_share": sum(r.fuzzy for r in requests) / n,
        "exact_repeat_share": (len(qs) - len(set(qs))) / n,
    }


# ------------------------------------------------------------------ TPC-H

# Row counts per unit of scale factor, and the value domains of the
# reduced TPC-H schema the program's relational queries read (no
# partsupp; lineitem carries its ship date only). Every column is an
# independent uniform draw over its domain.
TPCH_ROWS = {"lineitem": 6_000_000, "orders": 1_500_000, "customer": 150_000,
             "part": 200_000, "supplier": 10_000}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "spring", "widget")
ORDER_DAYS = ("1995-01-01", "2001-08-01")
SHIP_DAYS = ("1995-01-02", "2001-11-04")


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _days(rng, span: tuple[str, str], n: int) -> pa.Array:
    lo, hi = (np.datetime64(d, "D") for d in span)
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _keys(n: int, dtype=np.int64) -> pa.Array:
    return pa.array(np.arange(n, dtype=dtype))


def make_tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The seven tables, each drawn from its own stream of ``seed``."""
    n = {t: int(rows * sf) for t, rows in TPCH_ROWS.items()}

    def rng(table):
        return stream_rng(seed, f"tpch-{table}")

    r = rng("lineitem")
    m = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], m)),
        "l_partkey": pa.array(r.integers(0, n["part"], m)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], m)),
        "l_linenumber": pa.array(r.integers(1, 8, m).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": _money(r, 900.0, 105_000.0, m),
        "l_discount": pa.array(r.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, m) / 100.0),
        "l_returnflag": _pick(r, ("A", "N", "R"), m),
        "l_linestatus": _pick(r, ("F", "O"), m),
        "l_shipdate": _days(r, SHIP_DAYS, m),
    })
    r = rng("orders")
    m = n["orders"]
    orders = pa.table({
        "o_orderkey": _keys(m),
        "o_custkey": pa.array(r.integers(0, n["customer"], m)),
        "o_orderstatus": _pick(r, ("F", "O", "P"), m),
        "o_totalprice": _money(r, 1_000.0, 500_000.0, m),
        "o_orderdate": _days(r, ORDER_DAYS, m),
        "o_orderpriority": _pick(r, PRIORITIES, m),
    })
    r = rng("customer")
    m = n["customer"]
    customer = pa.table({
        "c_custkey": _keys(m),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(m)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, m).astype(np.int32)),
        "c_acctbal": _money(r, -999.99, 9_999.99, m),
        "c_mktsegment": _pick(r, SEGMENTS, m),
    })
    r = rng("part")
    m = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table({
        "p_partkey": _keys(m),
        "p_name": _pick(r, names, m),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], m),
        "p_type": _pick(r, PART_TYPES, m),
        "p_size": pa.array(r.integers(1, 51, m).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(m) % 1000) / 10.0, 1)),
    })
    r = rng("supplier")
    m = n["supplier"]
    supplier = pa.table({
        "s_suppkey": _keys(m),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(m)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, m).astype(np.int32)),
        "s_acctbal": _money(r, -999.99, 9_999.99, m),
    })
    nation = pa.table({
        "n_nationkey": _keys(25, np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    region = pa.table({"r_regionkey": _keys(5, np.int32),
                       "r_name": pa.array(list(REGIONS), pa.string())})
    return {"lineitem": lineitem, "orders": orders, "customer": customer, "part": part,
            "supplier": supplier, "nation": nation, "region": region}


def tpch(root: str, seed: int, sf: float) -> str:
    """Directory holding ``<table>.parquet`` for the seven tables."""
    def build(d):
        tables = make_tpch_tables(seed, sf)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))
        return {"seed": seed, "sf": sf, "rows": {k: t.num_rows for k, t in tables.items()}}

    return _cached(root, f"tpch-s{seed}-sf{sf}", build)
