"""The ``english_folded`` analyzer chain, re-implemented natively.

Reference behavior (retrieval/es_create_index_final.py:20-28): ES custom
analyzer = standard tokenizer -> lowercase filter -> porter_stem filter,
applied identically at index time and query time. BM25 token identity is
defined by this chain, so the engine (Spark pandas UDFs) and the oracle
(pure Python/numpy) share the exact same code path below.

Vectorization strategy (input_hint: "no per-row Python"): inside each
Arrow batch we tokenize with pandas vectorized string ops and stem each
*unique* token once (Zipf makes the per-batch vocabulary tiny relative to
token occurrences), then map back — per-unique-token Python, not per-row.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .porter import CachedStemmer, stem

# Unicode word runs with mid-word apostrophes kept, applied to lowercased
# text. Approximates the ES "standard" (UAX#29) tokenizer: non-ASCII
# letters survive ("café" -> "café", not "caf"), "don't" stays one token
# (UAX#29 WB6/WB7: MidNumLet apostrophe between letters), underscore joins
# (UAX#29 ExtendNumLet), digit runs kept. Remaining known divergences from
# full UAX#29: no special handling for Hiragana/Katakana runs or
# format/extend controls — token identity vs the reference is exact for
# alphabetic/numeric text, approximate for CJK.
TOKEN_RE = re.compile(r"\w+(?:['’]\w+)*", re.UNICODE)

# Fast tier for pure-ASCII rows (the overwhelming majority of English
# transcript text): on a lowercased ASCII string this class regex emits
# EXACTLY the same tokens as TOKEN_RE (\w == [a-z0-9_] there, and the
# Unicode apostrophe ’ can't occur in an ASCII string), but avoids
# per-char Unicode category lookups — ~25-30% faster findall. Rows with
# any non-ASCII char take the Unicode tier, so token identity is
# bit-exact either way (unit-tested).
ASCII_TOKEN_RE = re.compile(r"[a-z0-9_]+(?:'[a-z0-9_]+)*")

# "simple" analyzer mode: lowercase + ASCII alnum runs, NO stemming — the
# SQL-portable chain (identical to splitting lowercased text on
# [^a-z0-9]+, which DuckDB/any ANSI engine can replay exactly). Lets a
# FULL engine build+query be oracle-hash-checked end-to-end; the default
# "english_folded" chain stays the reference-faithful one.
SIMPLE_TOKEN_RE = re.compile(r"[a-z0-9]+")


def _findall_tokens(low: pd.Series) -> pd.Series:
    """Two-tier tokenizer over an already-lowercased, na-filled Series:
    ASCII rows -> ASCII_TOKEN_RE, the rest -> TOKEN_RE. Output order and
    token identity match ``low.str.findall(TOKEN_RE)`` exactly."""
    isasc = low.map(str.isascii)
    if isasc.all():
        return low.str.findall(ASCII_TOKEN_RE)
    fast = low[isasc].str.findall(ASCII_TOKEN_RE)
    slow = low[~isasc].str.findall(TOKEN_RE)
    return pd.concat([fast, slow]).reindex(low.index)


def analyze_flat(texts: pd.Series, mode: str = "english_folded"):
    """Batch analyzer in factorized form — the build hot path.

    Returns (codes, terms, lens): document i's analyzed tokens are
    ``terms[codes[start_i : start_i + lens[i]]]`` with
    ``start_i = lens[:i].sum()``. Tokenization is the two-tier C regex,
    stemming runs ONCE per unique raw token of the batch (Zipf: the batch
    vocabulary is tiny relative to token occurrences), and the factorized
    codes let downstream tf/position aggregation run as int64 numpy ops
    instead of per-document object loops.
    """
    from itertools import chain

    low = texts.fillna("").str.lower()
    toks = (low.str.findall(SIMPLE_TOKEN_RE) if mode == "simple"
            else _findall_tokens(low))
    lens = toks.str.len().to_numpy(np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, dtype=object), lens
    flat = np.fromiter(chain.from_iterable(toks.to_numpy()),
                       dtype=object, count=total)
    codes, uniq = pd.factorize(flat)
    if mode == "simple":
        return codes.astype(np.int64), np.asarray(uniq, dtype=object), lens
    stemmer = CachedStemmer()
    stemmed_u = np.array([stemmer(u) for u in uniq], dtype=object)
    # distinct raw tokens can stem to the same term -> re-factorize
    scode_u, terms = pd.factorize(stemmed_u)
    return scode_u[codes].astype(np.int64), terms, lens


def analyze(text: str, stemmer=stem,
            mode: str = "english_folded") -> list[str]:
    """Analyze one string -> list of index terms. Oracle-side entry point."""
    if not text:
        return []
    if mode == "simple":
        return SIMPLE_TOKEN_RE.findall(text.lower())
    return [stemmer(t) for t in TOKEN_RE.findall(text.lower())]


def analyze_series(texts: pd.Series) -> pd.Series:
    """Vectorized analyzer over a pandas Series of strings.

    Tokenization is pandas-native (C-level two-tier regex over the batch);
    stemming runs once per unique raw token via analyze_flat.
    """
    codes, terms, lens = analyze_flat(texts)
    if codes.size == 0:
        return pd.Series([[] for _ in range(len(texts))], index=texts.index)
    flat = terms[codes]
    splits = np.split(flat, np.cumsum(lens)[:-1])
    return pd.Series([s.tolist() for s in splits], index=texts.index)


@F.pandas_udf(T.IntegerType())
def token_count_udf(texts: pd.Series) -> pd.Series:
    """Per-turn token count = doc length ``dl`` (reference A4:
    database/scripts/chunk_pdfs_oai.py:86,129 computes token_count per
    chunk; here dl is the analyzed-token count of the turn text)."""
    toks = _findall_tokens(texts.fillna("").str.lower())
    return toks.str.len().astype("int32")


def bpe_token_count_udf(encoding: str = "cl100k_base"):
    """F2 faithful option: per-text BPE token counts via tiktoken, matching
    the reference's chunk geometry (database/scripts/chunk_pdfs_oai.py:
    34-37,122 uses cl100k_base). tiktoken is not in this image, so the
    path is gated behind an import-try; without it the engine uses
    analyzed-token counts for ``dl`` (internally consistent — documented
    deviation, see README). For library-free BPE token counts under a
    vocabulary trained on the corpus itself, use functions/bpe.py
    (train_bpe + BPETokenizer.token_count_col)."""
    try:
        import tiktoken
    except ImportError as e:  # pragma: no cover - image has no tiktoken
        raise ImportError(
            "tiktoken is not installed; the engine falls back to "
            "analyzed-token dl (token_count_udf). Install tiktoken to get "
            "reference-identical cl100k_base counts.") from e
    enc = tiktoken.get_encoding(encoding)

    @F.pandas_udf(T.IntegerType())
    def _count(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [len(x) for x in enc.encode_batch(texts.fillna("").tolist())],
            dtype="int32")

    return _count


def analyze_query(query: str,
                  mode: str = "english_folded") -> list[tuple[str, int]]:
    """Analyze a query string -> [(term, query_tf)] sorted by term.

    Duplicate query terms score multiplicatively (each occurrence is a
    separate bool-should clause in the reference's ES DSL,
    retrieval/es_search_final.py:13-34).
    """
    terms = analyze(query, mode=mode)
    counts: dict[str, int] = {}
    for t in terms:
        counts[t] = counts.get(t, 0) + 1
    return sorted(counts.items())
