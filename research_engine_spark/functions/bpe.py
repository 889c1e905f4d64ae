"""Distributed BPE tokenizer: train merges on the corpus, encode with
Arrow-vectorized UDFs.

The reference chunks with tiktoken's cl100k_base
(database/scripts/chunk_pdfs_oai.py:34-37,122); that library is absent
from this image (the gated ``bpe_token_count_udf`` in
functions/analyzer.py documents the fallback). This module removes the
dependency entirely: a real byte-pair-encoding tokenizer (Sennrich et
al. 2016, the algorithm under GPT-2/tiktoken vocabularies) trained
deterministically on the corpus itself — which is also what a
training-data pipeline at 100 TB actually wants: token counts and
subword segmentations under a vocabulary fit to ITS data, not to
OpenAI's.

Scale architecture (the same shape SentencePiece/HF tokenizer training
uses on large corpora):

1. **Distributed word aggregation** — the only corpus-sized pass:
   lowercase + whitespace pre-tokenization, explode, groupBy(word)
   count. The shuffle moves the VOCABULARY (Zipf-compressed: ~10^6-10^7
   distinct words even at 10^12 tokens), not the corpus.
2. **Bounded driver training** — the top ``max_vocab_words`` weighted
   words (Heaps/Zipf: the retained mass is >99.9% at any realistic cap)
   train the merge list on the driver with the classic pair-statistics
   loop, deterministic tie-break (count desc, then lexicographic pair).
   The cap bounds driver memory regardless of corpus size.
3. **Broadcast + vectorized encode** — merges broadcast once; encoding
   is an Arrow-batched pandas UDF with a per-batch word cache (Zipf
   again: a few thousand distinct words cover a batch), no per-row
   Python in the Spark sense of a row-at-a-time UDF.

Word boundaries use the end-of-word sentinel ``</w>`` (Sennrich's
formulation), so detokenization is exact: concatenate token pieces and
split on the sentinel.
"""

from __future__ import annotations

import json
import re
from collections import Counter, defaultdict

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EOW = "</w>"
_WORD_RE = re.compile(r"\S+")


def _word_counts(df: DataFrame, text_col: str,
                 max_vocab_words: int) -> list[tuple[str, int]]:
    """Distributed (word, count) aggregation, truncated to the
    ``max_vocab_words`` most frequent words (ties broken by word asc for
    determinism)."""
    wc = (
        df.select(F.explode(
            F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(int(max_vocab_words))
    )
    return [(r["word"], int(r["cnt"])) for r in wc.collect()]


def _train_merges(word_counts: list[tuple[str, int]],
                  n_merges: int) -> list[tuple[str, str]]:
    """Classic BPE training over a weighted word list (Sennrich 2016,
    the published learn_bpe structure): maintain pair counts and a
    pair -> word-index, merge the best pair, update incrementally.
    Deterministic: best = (count desc, pair lexicographic asc)."""
    words = [tuple(w) + (EOW,) for w, _ in word_counts]
    counts = [c for _, c in word_counts]
    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple, set] = defaultdict(set)
    for i, w in enumerate(words):
        c = counts[i]
        for pair in zip(w, w[1:]):
            pair_counts[pair] += c
            pair_words[pair].add(i)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < 1:
            break
        merges.append(best)
        merged = best[0] + best[1]
        for i in list(pair_words[best]):
            w, c = words[i], counts[i]
            # remove old pair contributions of this word
            for pair in zip(w, w[1:]):
                pair_counts[pair] -= c
                if pair_counts[pair] <= 0:
                    del pair_counts[pair]
                pair_words[pair].discard(i)
            # apply the merge left-to-right
            out = []
            j = 0
            while j < len(w):
                if j < len(w) - 1 and w[j] == best[0] and w[j + 1] == best[1]:
                    out.append(merged)
                    j += 2
                else:
                    out.append(w[j])
                    j += 1
            words[i] = w = tuple(out)
            for pair in zip(w, w[1:]):
                pair_counts[pair] += c
                pair_words[pair].add(i)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word by ascending rank (the GPT-2 bpe()
    loop)."""
    w = list(word) + [EOW]
    while len(w) > 1:
        pairs = [(w[j], w[j + 1]) for j in range(len(w) - 1)]
        ranked = [(ranks[p], p) for p in pairs if p in ranks]
        if not ranked:
            break
        _, best = min(ranked)
        out = []
        j = 0
        while j < len(w):
            if (j < len(w) - 1 and w[j] == best[0] and w[j + 1] == best[1]):
                out.append(best[0] + best[1])
                j += 2
            else:
                out.append(w[j])
                j += 1
        w = out
    return w


class BPETokenizer:
    """Trained merge list + vectorized Spark encode surface."""

    def __init__(self, merges: list[tuple[str, str]]):
        self.merges = list(merges)
        self.ranks = {tuple(p): i for i, p in enumerate(self.merges)}

    # --- python-side -------------------------------------------------------
    def encode_word(self, word: str) -> list[str]:
        return _encode_word(word.lower(), self.ranks)

    def encode(self, text: str) -> list[str]:
        out: list[str] = []
        for w in _WORD_RE.findall(text.lower()):
            out.extend(_encode_word(w, self.ranks))
        return out

    def decode(self, tokens: list[str]) -> str:
        return "".join(tokens).replace(EOW, " ").strip()

    def vocab(self) -> set[str]:
        """Every token the tokenizer can emit: single characters (with
        and without EOW) observed in merges plus all merge products."""
        v = set()
        for a, b in self.merges:
            v.update({a, b, a + b})
        return v

    # --- persistence -------------------------------------------------------
    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"merges": [list(p) for p in self.merges],
                       "eow": EOW}, f)

    @classmethod
    def load(cls, path: str) -> "BPETokenizer":
        with open(path) as f:
            doc = json.load(f)
        return cls([tuple(p) for p in doc["merges"]])

    # --- Spark-side (Arrow-vectorized; no per-row Python UDF) --------------
    def _ranks_for_udf(self):
        # plain dict closure: pandas UDFs pickle it once per executor,
        # the cloudpickle payload is merge-list sized (KBs-MBs), the
        # broadcast analog for UDF closures
        return dict(self.ranks)

    def token_count_col(self, text: Column) -> Column:
        ranks = self._ranks_for_udf()

        @F.pandas_udf(T.IntegerType())
        def _count(texts: pd.Series) -> pd.Series:
            cache: dict[str, int] = {}
            out = []
            for t in texts.fillna(""):
                n = 0
                for w in _WORD_RE.findall(t.lower()):
                    if w not in cache:
                        cache[w] = len(_encode_word(w, ranks))
                    n += cache[w]
                out.append(n)
            return pd.Series(out, dtype="int32")

        return _count(text)

    def encode_col(self, text: Column) -> Column:
        ranks = self._ranks_for_udf()

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def _enc(texts: pd.Series) -> pd.Series:
            cache: dict[str, list[str]] = {}
            out = []
            for t in texts.fillna(""):
                toks: list[str] = []
                for w in _WORD_RE.findall(t.lower()):
                    if w not in cache:
                        cache[w] = _encode_word(w, ranks)
                    toks.extend(cache[w])
                out.append(toks)
            return pd.Series(out)

        return _enc(text)


def bpe_lengths(texts, ranks: dict) -> "np.ndarray":
    """Per-text BPE token counts as int64 (word-level cache — Zipf: a
    few thousand distinct words cover a batch). The executor-side core
    of token_count_col, exposed plainly so the index build can compute
    BPE doc lengths inside its existing tokenize pass
    (build_index(dl_tokenizer=...): the tiktoken-dl analog of
    chunk_pdfs_oai.py:34-37, under a corpus-trained vocabulary)."""
    import numpy as np

    cache: dict[str, int] = {}
    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(pd.Series(texts).fillna("")):
        n = 0
        for w in _WORD_RE.findall(t.lower()):
            if w not in cache:
                cache[w] = len(_encode_word(w, ranks))
            n += cache[w]
        out[i] = n
    return out


def train_bpe(df: DataFrame, text_col: str = "text", n_merges: int = 1000,
              max_vocab_words: int = 200_000) -> BPETokenizer:
    """Train a BPE merge list on a corpus DataFrame. One distributed
    word-count aggregation (vocabulary-sized shuffle), then a bounded
    deterministic driver merge loop — see module docstring for why this
    is the at-scale architecture. Same df + params => same merges."""
    wc = _word_counts(df, text_col, max_vocab_words)
    return BPETokenizer(_train_merges(wc, int(n_merges)))
