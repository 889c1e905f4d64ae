"""Seeded inputs for the benchmark: corpus, query sets and expected results.

Everything here is derived from the run's ``--seed`` alone, so the same seed
gives the same corpus, the same queries and the same expected top-k. None of
it is timed: corpus and query generation are excluded from ``setup_s``.

The expected results come from ``oracle.BM25Oracle``, the repository's
single-process BM25 reference, which the engine must match bit for bit
(top-k doc ids and float64 scores).
"""

from __future__ import annotations

import os
import re
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

TOP_K = 15  # ResearchEngine.DEFAULT_TOP_K: what interactive users get
# query-set sizes; with the 11 reference queries, match has 16 queries
N_DRAWN, N_PHRASES, N_FUZZY, N_ES = 5, 4, 4, 4
BURSTINESS = 0.3  # realistic-text shape: tf and dl vary, so pruning can act
_WORD_RE = re.compile(r"[a-z][a-z0-9]*")


@dataclass(frozen=True)
class Scale:
    """Corpus and batch sizes. ``n_convs`` conversations are generated and
    cut, in (conv_id, turn_idx) order, into exactly ``n_base_turns`` indexed
    turns followed by ``n_append_batches`` append micro-batches of exactly
    ``append_turns`` turns; the rest is dropped. Fixed turn counts keep the
    work of a build and of an append the same on every seed, so the
    throughputs do not move with the seed's conversation lengths."""

    n_convs: int
    n_base_turns: int
    n_append_batches: int
    append_turns: int
    batch_size: int  # queries per search_many batch
    n_delete_turns: int  # turns tombstoned by delete_by_query


SCALES = {
    # 1,100 conversations give 7,550 turns on average (sd about 180), so
    # the 5,500 taken are more than 10 sd below what any seed generates
    "full": Scale(n_convs=1100, n_base_turns=5000, n_append_batches=1,
                  append_turns=500, batch_size=16, n_delete_turns=120),
    # the self-test's tiny corpus: same code paths, seconds per phase
    "tiny": Scale(n_convs=230, n_base_turns=900, n_append_batches=2,
                  append_turns=120, batch_size=8, n_delete_turns=30),
}


def write_corpus(spark, seed: int, scale: Scale, n_parts: int,
                 out_dir: str) -> list[str]:
    """Generate every conversation of the run in one Spark job, then cut it
    into ``part=0`` (the base corpus) and ``part=1`` onwards (the append
    micro-batches), each written as ``n_parts`` parquet files. Returns the
    part directories."""
    import pyarrow.parquet as pq

    from research_engine_spark.corpus import synth_transcripts

    staging = f"{out_dir}/generated"
    synth_transcripts(spark, n_convs=scale.n_convs, seed=seed,
                      burstiness=BURSTINESS, n_partitions=n_parts
                      ).write.parquet(staging)
    table = pq.read_table(staging).sort_by(
        [("conv_id", "ascending"), ("turn_idx", "ascending")])
    sizes = [scale.n_base_turns] + [scale.append_turns] * (
        scale.n_append_batches)
    if table.num_rows < sum(sizes):
        raise RuntimeError(f"seed {seed} generated {table.num_rows} turns, "
                           f"fewer than the {sum(sizes)} the scale takes")
    parts, start = [], 0
    for i, size in enumerate(sizes):
        part = f"{out_dir}/part={i}"
        os.makedirs(part)
        for j in range(n_parts):
            lo = start + size * j // n_parts
            hi = start + size * (j + 1) // n_parts
            # microsecond timestamps, as Spark writes and reads them
            pq.write_table(table.slice(lo, hi - lo),
                           f"{part}/part-{j:05d}.parquet",
                           coerce_timestamps="us")
        parts.append(part)
        start += size
    shutil.rmtree(staging)
    return parts


def delete_victims(seed: int, corpus: pd.DataFrame, n_turns: int) -> list[str]:
    """Seeded whole conversations to tombstone, exactly ``n_turns`` turns
    in all, so the delete and the purging compaction do the same work on
    every seed: conversations in seeded order, each taken if it still
    fits."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0xDE1]))
    sizes = corpus["conv_id"].value_counts().sort_index()
    victims, left = [], n_turns
    for i in rng.permutation(len(sizes)):
        if left == 0:
            break
        if sizes.iloc[i] <= left:
            victims.append(str(sizes.index[i]))
            left -= int(sizes.iloc[i])
    if left:
        raise RuntimeError(f"seed {seed}: no conversations sum to "
                           f"{n_turns} turns")
    return sorted(victims)


@dataclass
class QuerySet:
    """The seeded query set of one run."""

    match: list[str]  # reference queries + Zipf-drawn match queries
    phrases: list[str]  # bigrams of real turns
    fuzzy: list[str]  # reference queries with a one-edit typo
    es_bodies: list[dict]  # term-level ES bodies
    batch: list[str]  # the fixed search_many batch
    probes: list[str]  # fixed probes checked after the delete and the purge
    agg_query: str  # the match query of the es_aggregations terms body


def make_queries(seed: int, corpus: pd.DataFrame, scale: Scale) -> QuerySet:
    """Queries drawn from the same seed as the corpus: the 11 reference
    queries, 1-5 term match queries over the corpus's Zipf vocabulary
    (plain, stopword-heavy and rare AND common shapes), phrases from
    bigrams of real turns and fuzzy queries: reference queries with a
    one-edit typo."""
    from research_engine_spark.functions.analyzer import analyze_query
    from research_engine_spark.reference_queries import REFERENCE_QUERIES

    rng = np.random.default_rng(np.random.SeedSequence([seed, 0xBE7C]))
    texts = corpus["text"].fillna("").str.lower().tolist()
    freq = Counter(w for t in texts for w in _WORD_RE.findall(t))
    vocab = sorted(freq, key=lambda w: (-freq[w], w))
    counts = np.array([freq[w] for w in vocab], dtype=np.float64)
    zipf_p = counts / counts.sum()
    head = vocab[:20]  # stopword-like: the hottest words
    tail = vocab[len(vocab) // 2:]  # rare half of the vocabulary

    def zipf_terms(n: int) -> list[str]:
        return list(rng.choice(vocab, size=n, p=zipf_p))

    match = list(REFERENCE_QUERIES)
    for i in range(N_DRAWN):
        shape = i % 3
        if shape == 0:  # plain Zipf draw, 1-5 terms
            terms = zipf_terms(int(rng.integers(1, 6)))
        elif shape == 1:  # stopword-heavy: mostly head words
            terms = list(rng.choice(head, size=int(rng.integers(2, 5))))
            terms += zipf_terms(1)
        else:  # rare AND common
            terms = [str(rng.choice(tail))] + list(
                rng.choice(head, size=int(rng.integers(1, 3))))
        match.append(" ".join(terms))

    phrases: list[str] = []
    long_turns = [t for t in texts if len(_WORD_RE.findall(t)) >= 2]
    while len(phrases) < N_PHRASES:
        turn = long_turns[int(rng.integers(len(long_turns)))]
        words = re.findall(r"\S+", turn)
        j = int(rng.integers(len(words) - 1))
        pair = [re.sub(r"[^a-z0-9]", "", w) for w in words[j:j + 2]]
        if all(pair):
            phrases.append(" ".join(pair))

    # fuzzy: reference queries as users mistype them, one edit in one word
    # of four or more letters
    fuzzy: list[str] = []
    for j in sorted(rng.choice(len(REFERENCE_QUERIES), size=N_FUZZY,
                               replace=False)):
        words = REFERENCE_QUERIES[int(j)].split()
        long = [i for i, w in enumerate(words) if len(w.strip("?")) >= 4]
        i = long[int(rng.integers(len(long)))]
        words[i] = _one_edit(words[i].strip("?"), rng)
        fuzzy.append(" ".join(words))

    # term-level clauses name index terms, i.e. analyzed (stemmed) words
    index_terms = sorted({t for w in vocab[:200] for t, _ in analyze_query(w)})
    es_bodies = []
    for i in range(N_ES):
        a, b_, c = (str(w) for w in rng.choice(index_terms, size=3,
                                               replace=False))
        if i % 2 == 0:
            query = {"term": {"text": a}}
        else:
            query = {"bool": {"should": [{"term": {"text": a}},
                                         {"terms": {"text": [b_, c]}}]}}
        es_bodies.append({"size": TOP_K, "query": query})

    batch = [match[int(i)] for i in rng.choice(len(match),
                                               size=scale.batch_size,
                                               replace=False)]
    probes = [REFERENCE_QUERIES[0], match[11]]
    return QuerySet(match=match, phrases=phrases, fuzzy=fuzzy,
                    es_bodies=es_bodies, batch=batch, probes=probes,
                    agg_query=match[11])


def _one_edit(word: str, rng: np.random.Generator) -> str:
    """One Damerau edit: substitute, delete, insert or transpose."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    i = int(rng.integers(1, len(word) - 1))
    op = int(rng.integers(4))
    ch = letters[int(rng.integers(26))]
    if op == 0:
        return word[:i] + ch + word[i + 1:]
    if op == 1:
        return word[:i] + word[i + 1:]
    if op == 2:
        return word[:i] + ch + word[i:]
    return word[:i - 1] + word[i] + word[i - 1] + word[i + 1:]


def top_pairs(df: pd.DataFrame) -> list[tuple[int, float]]:
    """(doc_id, score) pairs of a result frame, in rank order."""
    return [(int(d), float(s)) for d, s in zip(df["doc_id"], df["score"])]


class Expected:
    """Expected top-k per distinct (kind, query), computed once per run from
    the oracle and reused for every repetition of the query."""

    def __init__(self, corpus: pd.DataFrame) -> None:
        from research_engine_spark.oracle import BM25Oracle

        self.oracle = BM25Oracle(corpus)
        # role per oracle doc id (the oracle numbers docs in this order)
        self._roles = corpus.sort_values(
            ["conv_id", "turn_idx"], kind="mergesort")["role"].to_numpy()
        self._cache: dict[tuple[str, str], list] = {}

    def get(self, kind: str, query: str) -> list[tuple[int, float]]:
        key = (kind, query)
        if key not in self._cache:
            o = self.oracle
            fn = {"search": o.search, "fuzzy": o.fuzzy_search,
                  "phrase": o.phrase_search,
                  "bool_should": o.bool_should_search}[kind]
            self._cache[key] = top_pairs(fn(query, k=TOP_K))
        return self._cache[key]

    def role_counts(self, query: str) -> dict[str, int]:
        """Exact ``terms`` aggregation on ``role`` over the docs a ``match``
        query matches (any analyzed term present)."""
        from research_engine_spark.functions.analyzer import analyze_query

        o = self.oracle
        hit = set()
        for term, _ in analyze_query(query):
            if term in o.index:
                hit.update(int(d) for d in o.index[term][0])
        roles = self._roles[sorted(hit)] if hit else []
        return dict(Counter(str(r) for r in roles))

