"""Elasticsearch query-DSL front-end: execute the reference's search
bodies natively.

The reference talks to ES with JSON query bodies
(retrieval/es_search_final.py:12-37, es_search.py:11-15): a bool/should
of multi_match clauses (best_fields with per-field boosts + fuzziness
AUTO, plus a phrase-type multi_match at boost 2.0),
minimum_should_match=1, size, _source projection. This module accepts
those bodies verbatim and compiles them onto the engine's operators, so
a reference user can paste their ``search_body`` unchanged:

    es_search(index, {
        "query": {"bool": {"should": [
            {"multi_match": {"query": q, "fields": ["text^3", "role"],
                             "type": "best_fields", "fuzziness": "AUTO"}},
            {"multi_match": {"query": q, "fields": ["text", "role"],
                             "type": "phrase", "boost": 2.0}}],
            "minimum_should_match": 1}},
        "size": 10})

Supported clauses: match (optional fuzziness/boost/operator "and" —
compiled to the same bool-must-of-term-clauses Lucene BooleanQuery ES
builds), match_phrase, match_phrase_prefix (the LAST analyzed token is
a term prefix, expanded in term-dictionary order capped at
max_expansions; combined phrase frequency over all completions, prefix-
position idf from the max expansion df — the Lucene MultiPhraseQuery
convention; operators/scorer.py:_phrase_prefix_prologue),
match_bool_prefix (analyzed tokens as term clauses + the last as a
prefix clause in a bool per operator/minimum_should_match — ES's
documented construction; _mbp_rewrite), rank_feature (stored positive
numeric column through saturation | log | sigmoid | linear with ES's
formulas; default saturation pivot = the EXACT geometric mean where ES
approximates; _rank_feature_df), distance_feature (closeness of a
stored numeric column to origin: boost·pivot/(pivot+|x−origin|)),
pinned (explicit ids ranked above every organic hit in the given
order — Lucene's Float.MAX_VALUE/2-minus-rank convention), wrapper
(base64-encoded JSON clause, decoded and dispatched), constant_score
(filter + boost), multi_match (best_fields | most_fields | phrase |
cross_fields, ``field^boost`` specs, tie_breaker, fuzziness on the
non-phrase types — cross_fields is term-centric: per analyzed term a
dis_max over the fields, combined by operator/minimum_should_match per
TERM, with the documented deviation that per-field dfs are not blended),
dis_max (queries + tie_breaker — Lucene DisjunctionMaxQuery), bool
(should / must / must_not / filter / minimum_should_match, arbitrarily
nested), match_all, and the term-level family: term (UNanalyzed exact
index term, BM25-scored — the ES term-query semantics), fuzzy
(UNanalyzed value expanded within Lucene AUTO edit distance, each
expansion a term clause weighted 1 - ed/min lengths — the match
fuzziness machinery minus analysis), terms / prefix / wildcard
(constant_score rewrite: every doc containing a matching index term
scores ``boost``, ES's default multi-term rewrite), range and exists
(docs-table metadata predicates, constant_score), ids (explicit live
doc-id set, constant_score), query_string / simple_query_string (the
two Lucene text syntaxes, parsed by operators/querystring.py and
expanded into this DSL before dispatch — anywhere in the tree, so a
bool can nest a query_string clause), more_like_this (driver-side
characteristic-term selection from like-text or like-_id inputs —
like-tf * idf ranked, tf/df-windowed, top max_query_terms — compiled
to a bool should of term clauses with "30%" minimum_should_match and
a must_not ids exclusion of the inputs; see _mlt_rewrite), boosting
(positive scores, demoted by negative_boost where the negative clause
also matches), function_score (field_value_factor with
none/log1p/sqrt/square modifiers, {filter, weight, script_score}
functions, and the gauss/exp/linear decay functions over numeric docs
columns — combined per score_mode multiply|sum|max|min|avg, applied
per boost_mode multiply|sum|replace with an optional max_boost cap —
always distributed: a rescoring scan over docs columns / filter sets),
and script_score (the documented Painless subset of
functions/painless.py — arithmetic, Math.*, saturation, sigmoid over
_score / doc['field'].value / params — compiled to ONE Catalyst
expression distributed, numpy on the serving tier; scripts whose every
op is IEEE-exact stay bit-identical across paths, transcendental
scripts run distributed on both; min_score drops hits below the
threshold).
Body keys: collapse ({field} — best hit per forward-table group,
distributed window), sort (docs-table fields / _score / _doc, asc or
desc, missing-last, doc_id tiebreak — always distributed, one pruned
docs join + TakeOrderedAndProject), rescore (top-window_size
re-scoring by a second query, query_weight/rescore_query_weight/
score_mode total|multiply|avg|max|min, chainable with non-increasing
windows; zero-job on the serving tier when every clause fits), query,
size (ES default 10), from, search_after ([last_score, last_doc_id]
cursor — constant-cost deep pagination; default relevance sort only),
_source (docs-column projection), highlight, min_score (drop hits
scoring below the threshold BEFORE pagination, on every result-shaping
mode — plain/sort/collapse/knn-hybrid, both eval paths; rejected with
rescore, where ES's pre-rescore-only application would surprise),
and knn (ES 8.x top-level
dense-vector search over a stored array<float> docs column — exact
brute force, cosine | dot_product | l2_norm | max_inner_product with
ES's _score transforms, alone or hybrid-summed with `query`, one or
many clauses folding in fixed order; see _knn_df).

Term-level scale posture: the distributed prefix/wildcard paths never
enumerate the expansion driver-side — the pattern pushes into the
postings scan as a Catalyst ``StartsWith``/``RLike`` predicate over the
term-SORTED parquet files (row-group term min/max statistics skip
non-matching groups), then only doc_gaps decode; there is no
max_expansions cliff and no driver term list at any vocabulary size.
The serving tier expands against the in-RAM vocabulary inside the same
Σ df posting budget as every other driver-local path.

Scoring composition is ES/Lucene's: should and must clauses SUM, a doc
must satisfy every must / filter / minimum_should_match gate and no
must_not clause; filter matches contribute score 0. Each leaf clause is
scored by the engine's exact primitives (BM25 ``search`` full match
set, positional ``phrase_scores``, per-field sub-indexes for
multi_match — Lucene keeps separate field statistics and so do we,
operators/multifield.py), so every leaf is the same machinery the
driver hash-checks against DuckDB.

Spark-first shape: one full-match score frame per leaf (only matching
postings, never the corpus), composed with union + groupBy(doc_id) /
joins — a single shuffle over matching docs per bool level — and a
final TakeOrderedAndProject. Serving tier: when EVERY leaf of the tree
fits the reader's driver-local budgets the whole body evaluates in
pandas with zero Spark jobs (same float64 ops as the distributed
composition), falling back per-query otherwise — the gate is the same
Σ df metadata check the plain serving paths use. The two paths are
bit-identical at ANY clause count: the distributed should composition
pivots per-clause scores into fixed columns (each an exact at-most-one-
addend conditional sum) and folds them left-to-right in clause order —
the same order the pandas twin's concat-order groupby fold uses — so no
accumulation-order-dependent grouped float sum remains (r4 ulp caveat
retired).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codec import delta_decode, vb_decode
from .multifield import MultiFieldReader
from .scorer import (
    DRIVER_LOCAL_MAX_DELETES,
    _NO_HITS,
    IndexReader,
    _deleted_ids_arrow,
    _empty_df,
    _is_deleted_arrow,
    _fetch_term_blocks_arrow,
    _fold_meta_pd,
    _all_match_scores,
    _fuzzy_term_meta,
    _hits_df,
    _phrase_prefix_driver_local,
    _phrase_scores_driver_local,
    _term_meta,
    _topk_df,
    phrase_prefix_scores,
    phrase_scores,
    search,
)

DEFAULT_SIZE = 10  # the ES default


class ESQueryError(ValueError):
    """Malformed or unsupported query body."""


class _Ctx:
    def __init__(self, index, k1, b):
        if isinstance(index, MultiFieldReader):
            self.readers = dict(index.readers)
            self.default_field = next(iter(index.readers))
            self.spark = index.spark
        elif isinstance(index, IndexReader):
            self.readers = {"text": index}
            self.default_field = "text"
            self.spark = index.spark
        else:
            raise ESQueryError(f"unsupported index type: {type(index)!r}")
        self.k1 = k1
        self.b = b

    def reader(self, field: str) -> IndexReader:
        # a single-field index answers for any field name, like an ES
        # index whose only analyzed text field backs the query
        if field in self.readers:
            return self.readers[field]
        if len(self.readers) == 1:
            return next(iter(self.readers.values()))
        raise ESQueryError(
            f"unknown field {field!r}; index has {sorted(self.readers)}")


def _field_boost(spec: str) -> tuple[str, float]:
    """Parse an ES field spec ``name`` or ``name^2.5``."""
    if "^" in spec:
        name, w = spec.split("^", 1)
        return name, float(w)
    return spec, 1.0


def _leaf_spec(body) -> tuple[str, dict]:
    """Normalize {field: "q"} / {field: {"query": ..., ...}}."""
    if not isinstance(body, dict) or len(body) != 1:
        raise ESQueryError(f"clause must have exactly one field: {body!r}")
    [(field, spec)] = body.items()
    if not isinstance(spec, dict):
        spec = {"query": spec}
    if "query" not in spec:
        raise ESQueryError(f"clause for {field!r} lacks 'query'")
    return field, spec


def _value_spec(body) -> tuple[str, dict]:
    """Normalize {field: "v"} / {field: {"value": ..., ...}} (the
    term/prefix/wildcard clause shapes)."""
    if not isinstance(body, dict) or len(body) != 1:
        raise ESQueryError(f"clause must have exactly one field: {body!r}")
    [(field, spec)] = body.items()
    if not isinstance(spec, dict):
        spec = {"value": spec}
    if "value" not in spec:
        raise ESQueryError(f"clause for {field!r} lacks 'value'")
    return field, spec


def _terms_parts(body) -> tuple[str, list, float]:
    """Parse {"terms": {field: [v, ...], "boost": b}} (boost is a
    sibling of the field key in ES's terms query)."""
    if not isinstance(body, dict):
        raise ESQueryError(f"terms clause must be a dict: {body!r}")
    fields = [k for k in body if k != "boost"]
    if len(fields) != 1:
        raise ESQueryError(
            f"terms clause must have exactly one field: {body!r}")
    values = body[fields[0]]
    if not isinstance(values, list) or not values:
        raise ESQueryError("terms clause needs a non-empty value list")
    return fields[0], [str(v) for v in values], float(body.get("boost", 1.0))


def _wildcard_regex(pattern: str) -> str:
    """ES wildcard pattern -> regex body (* -> .*, ? -> ., all else
    literal). The same string compiles identically as a Java regex
    (distributed rlike) and a Python regex (serving-tier fullmatch):
    only escaped literals and the two dot forms appear."""
    import re

    return "".join(
        ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
        for ch in pattern)


def _regexp_pattern(value: str) -> str:
    """ES ``regexp`` pattern -> the anchored form both engines run.
    Lucene regexps are implicitly anchored (no ^/$) and, under the
    default flags, add operators Java/Python lack: ``~`` (complement),
    ``&`` (intersection), ``<>`` (numeric interval), ``@``
    (any-string), ``#`` (empty language). The engine executes the
    Java∩Python common subset — literals, classes, ., ?, +, *, |,
    (), {m,n} — identically on the distributed (JVM ``rlike``) and
    serving (``re.fullmatch``) tiers, and rejects patterns using the
    Lucene-only operators loudly instead of diverging."""
    import re as _re

    if _re.search(r"(?<!\\)[~&<>@#^$]", value):
        raise ESQueryError(
            f"regexp {value!r}: Lucene-only operators (~ & <> @ #) and "
            "anchors (^ $) are unsupported — patterns are implicitly "
            "anchored; use the Java/Python-common subset")
    try:
        _re.compile(value)
    except _re.error as e:
        raise ESQueryError(f"regexp {value!r}: {e}") from None
    return f"^(?:{value})$"


def _fuzzy_flag(spec: dict) -> bool:
    fz = spec.get("fuzziness", 0)
    if fz in (0, "0", None):
        return False
    if fz == "AUTO":
        return True
    raise ESQueryError(
        f"fuzziness={fz!r} unsupported (AUTO is the Lucene ladder the "
        "engine implements; fixed distances are not)")


def _msm_count(raw, n_clauses: int) -> int:
    """minimum_should_match as a clause count: int, numeric string, or
    the ES percentage form "30%" (floor of pct * n, Lucene's rule)."""
    if isinstance(raw, str) and raw.strip().endswith("%"):
        pct = float(raw.strip()[:-1])
        return int(pct * n_clauses / 100.0)
    return int(raw)


def _doc_text_arrow(reader: IndexReader, doc_id: int) -> str:
    """ONE document's text, driver-side (pyarrow row-group probe of the
    fenced docs table — zero Spark jobs; the more_like_this like-by-_id
    fetch). Raises on a missing or deleted id."""
    import pyarrow.compute as pc

    doc_id = int(doc_id)
    if reader.has_deletes and _is_deleted_arrow(reader, doc_id):
        raise ESQueryError(f"more_like_this like _id {doc_id} is deleted")
    ds = reader.docs_arrow()
    if "text" not in ds.schema.names:
        raise ESQueryError(
            "more_like_this by _id needs a 'text' docs column; index has "
            f"{sorted(ds.schema.names)}")
    t = ds.to_table(columns=["text"],
                    filter=reader._docs_fence(pc.field("doc_id") == doc_id))
    if t.num_rows == 0:
        raise ESQueryError(f"more_like_this like _id {doc_id} not found")
    return str(t["text"][0].as_py())


def _ids_present_arrow(reader: IndexReader, values: list[int]) -> np.ndarray:
    """The subset of ``values`` that exist as live docs, sorted —
    driver-side pyarrow probe, O(matching row groups) per the footer
    range stats (values is a user-provided list, never corpus-sized)."""
    import pyarrow.compute as pc

    flt = reader._docs_fence(
        pc.field("doc_id").isin([int(v) for v in values]))
    col = reader.docs_arrow().to_table(columns=["doc_id"],
                                       filter=flt)["doc_id"]
    ids = np.unique(col.to_numpy(zero_copy_only=False).astype(np.int64))
    if reader.has_deletes and ids.size:
        ids = np.array([i for i in ids.tolist()
                        if not _is_deleted_arrow(reader, int(i))],
                       dtype=np.int64)
    return ids


def _mlt_rewrite(ctx: _Ctx, body: dict) -> dict:
    """ES ``more_like_this``: select the most characteristic terms of the
    like-text(s) and compile a bool should of unboosted term clauses
    (Lucene MoreLikeThis with boost=false, its default).

    Term selection (all driver-side, dictionary-cache metadata only —
    no job, no corpus read): analyze every like input (strings and/or
    {"_id": N} refs, the latter fetched by a one-row pyarrow probe),
    keep terms with like-tf >= min_term_freq (ES default 2) and index
    df in [min_doc_freq (default 5), max_doc_freq], rank by
    like-tf * idf (the engine's BM25 idf) and keep the top
    max_query_terms (default 25). Ties break by term asc — documented
    determinism where Lucene's priority queue leaves order unspecified.
    minimum_should_match defaults to ES's "30%". like-by-_id inputs are
    excluded from the result via a must_not ids clause unless
    include: true. Compiles onto hash-checked primitives, so both
    evaluation paths (and their bit-identity) come for free."""
    import math

    if not isinstance(body, dict) or "like" not in body:
        raise ESQueryError("more_like_this needs 'like'")
    fields = [_field_boost(fs)[0]
              for fs in _aslist(body.get("fields"))] or [ctx.default_field]
    if len(fields) > 1:
        raise ESQueryError(
            "more_like_this over multiple fields is unsupported "
            "(one analyzed field per query)")
    field = fields[0]
    reader = ctx.reader(field)
    from ..functions.analyzer import analyze_query

    texts: list[str] = []
    exclude_ids: list[int] = []
    for lk in _aslist(body["like"]):
        if isinstance(lk, str):
            texts.append(lk)
        elif isinstance(lk, dict) and "_id" in lk:
            did = int(lk["_id"])
            texts.append(_doc_text_arrow(reader, did))
            exclude_ids.append(did)
        else:
            raise ESQueryError(
                f"more_like_this like entry unsupported: {lk!r} "
                "(text string or {'_id': N})")
    mode = reader.stats.get("analyzer", "english_folded")
    tf: dict[str, int] = {}
    for text in texts:
        for term, qtf in analyze_query(text, mode=mode):
            tf[term] = tf.get(term, 0) + int(qtf)
    min_tf = int(body.get("min_term_freq", 2))
    cand = sorted(t for t, c in tf.items() if c >= min_tf)
    stats = reader.term_stats_arrow(cand) if cand else pd.DataFrame(
        columns=["term", "df"])
    min_df = int(body.get("min_doc_freq", 5))
    max_df = body.get("max_doc_freq")
    n_docs = int(reader.stats["n_docs"])
    scored: list[tuple[float, str]] = []
    for r in stats.itertuples(index=False):
        df = int(r.df)
        if df < min_df or (max_df is not None and df > int(max_df)):
            continue
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        scored.append((-(tf[r.term] * idf), r.term))
    scored.sort()
    sel = [t for _, t in scored[: int(body.get("max_query_terms", 25))]]
    if not sel:
        return {"term": {field: "\x00never"}}
    out: dict = {"bool": {"should": [
        {"term": {field: {"value": t}}} for t in sel]}}
    msm = _msm_count(body.get("minimum_should_match", "30%"), len(sel))
    if msm > 0:
        out["bool"]["minimum_should_match"] = msm
    if exclude_ids and not bool(body.get("include", False)):
        out["bool"]["must_not"] = [{"ids": {"values": exclude_ids}}]
    return out


_FS_BOOST_MODES = ("multiply", "sum", "replace")
_FS_SCORE_MODES = ("multiply", "sum", "max", "min", "avg")
_FVF_MODIFIERS = ("none", "log1p", "sqrt", "square")
_DECAY_KINDS = {"gauss", "exp", "linear"}


def _decay_expr(kind: str, field: str, params: dict):
    """ES decay-function value for one doc as a Catalyst expression
    (numeric fields). d = max(0, |v - origin| - offset); then
    gauss  = exp(-d² / 2σ²),          σ² = -scale² / (2 ln decay)
    exp    = exp(λ d),                 λ  = ln(decay) / scale
    linear = max(0, (s - d) / s),      s  = scale / (1 - decay)
    A doc missing the field gets 1.0 (ES's documented behavior)."""
    import math

    origin = float(params["origin"])
    scale = float(params["scale"])
    offset = float(params.get("offset", 0.0))
    decay = float(params.get("decay", 0.5))
    d = F.greatest(
        F.abs(F.col(field).cast("double") - F.lit(origin))
        - F.lit(offset), F.lit(0.0))
    if kind == "gauss":
        sigma2 = -(scale * scale) / (2.0 * math.log(decay))
        val = F.exp(-(d * d) / F.lit(2.0 * sigma2))
    elif kind == "exp":
        lam = math.log(decay) / scale
        val = F.exp(F.lit(lam) * d)
    else:  # linear
        s = scale / (1.0 - decay)
        val = F.greatest((F.lit(s) - d) / F.lit(s), F.lit(0.0))
    return F.coalesce(val, F.lit(1.0))


def _function_score_parts(ctx: _Ctx, body: dict):
    """Validate a function_score body and return
    (query, fvf|None, functions, boost_mode, score_mode, max_boost).
    Supported: ONE of field_value_factor (field/factor/modifier
    none|log1p|sqrt|square/missing) or a functions list of
    {filter?, weight} entries; boost_mode multiply|sum|replace;
    score_mode multiply|sum|max|min|avg; max_boost cap. Always
    evaluated distributed (the function value is a docs-column /
    filter-set scan — a rescoring pass, not a postings read)."""
    if not isinstance(body, dict) or "query" not in body:
        raise ESQueryError("function_score needs 'query'")
    fvf = body.get("field_value_factor")
    funcs = list(body.get("functions") or [])
    if fvf and funcs:
        raise ESQueryError(
            "function_score supports field_value_factor OR functions, "
            "not both")
    top_decays = _DECAY_KINDS & set(body)
    if not fvf and not funcs and "weight" not in body \
            and not top_decays and "script_score" not in body:
        raise ESQueryError(
            "function_score needs field_value_factor, functions, "
            "weight, script_score, or a decay (gauss/exp/linear)")
    if not fvf and not funcs \
            and (top_decays or "weight" in body
                 or "script_score" in body):
        # ES single-function shorthand: the function keys live directly
        # in the function_score body
        fn = {dk: body[dk] for dk in top_decays}
        if "weight" in body:
            fn["weight"] = body["weight"]
        if "script_score" in body:
            fn["script_score"] = body["script_score"]
        funcs = [fn]
    boost_mode = str(body.get("boost_mode", "multiply"))
    if boost_mode not in _FS_BOOST_MODES:
        raise ESQueryError(
            f"boost_mode {boost_mode!r} unsupported {_FS_BOOST_MODES}")
    score_mode = str(body.get("score_mode", "multiply"))
    if score_mode not in _FS_SCORE_MODES:
        raise ESQueryError(
            f"score_mode {score_mode!r} unsupported {_FS_SCORE_MODES}")
    if fvf:
        if not isinstance(fvf, dict) or "field" not in fvf:
            raise ESQueryError("field_value_factor needs 'field'")
        modifier = str(fvf.get("modifier", "none"))
        if modifier not in _FVF_MODIFIERS:
            raise ESQueryError(
                f"field_value_factor modifier {modifier!r} unsupported "
                f"{_FVF_MODIFIERS}")
    for fn in funcs:
        if not isinstance(fn, dict) \
                or not ({"weight", "script_score"} | _DECAY_KINDS) & set(fn):
            raise ESQueryError(
                "each function needs 'weight', 'script_score', or a "
                "decay (gauss/exp/linear)")
        if "script_score" in fn:
            ss = fn["script_score"]
            if not isinstance(ss, dict) or "script" not in ss \
                    or set(ss) - {"script"}:
                raise ESQueryError(
                    "function script_score needs exactly {'script': ...}")
            _script_parse(ss["script"])  # validate eagerly
        bad = set(fn) - ({"weight", "filter", "script_score"}
                         | _DECAY_KINDS)
        if bad:
            raise ESQueryError(f"unsupported function keys: {sorted(bad)}")
        decays = _DECAY_KINDS & set(fn)
        if len(decays) > 1:
            raise ESQueryError(
                f"one decay kind per function, got {sorted(decays)}")
        for dk in decays:
            spec = fn[dk]
            if not isinstance(spec, dict) or len(spec) != 1:
                raise ESQueryError(
                    f"{dk} needs exactly one {{field: params}} entry")
            params = next(iter(spec.values()))
            if not isinstance(params, dict) or "origin" not in params \
                    or "scale" not in params:
                raise ESQueryError(
                    f"{dk} params need 'origin' and 'scale' (numeric)")
            badp = set(params) - {"origin", "scale", "offset", "decay"}
            if badp:
                raise ESQueryError(
                    f"unsupported {dk} params: {sorted(badp)}")
            if float(params["scale"]) <= 0:
                raise ESQueryError(f"{dk} scale must be > 0")
            dec = float(params.get("decay", 0.5))
            if not 0.0 < dec < 1.0:
                raise ESQueryError(f"{dk} decay must be in (0, 1)")
    max_boost = body.get("max_boost")
    return (body["query"], fvf or None, funcs, boost_mode, score_mode,
            None if max_boost is None else float(max_boost))


def _script_parse(spec):
    """Parse an ES ``script`` spec ({"source": ..., "params": {...}}
    or the inline-string shorthand) into a painless AST (params are
    constant-folded)."""
    from ..functions import painless

    if isinstance(spec, str):
        spec = {"source": spec}
    if not isinstance(spec, dict) or "source" not in spec:
        raise ESQueryError("script needs {'source': ..., 'params': {}}")
    bad = set(spec) - {"source", "params", "lang"}
    if bad:
        raise ESQueryError(f"unsupported script keys: {sorted(bad)}")
    if spec.get("lang", "painless") != "painless":
        raise ESQueryError(f"unsupported script lang {spec['lang']!r}")
    try:
        return painless.parse_script(str(spec["source"]),
                                     spec.get("params"))
    except painless.PainlessError as e:
        raise ESQueryError(f"script_score script: {e}") from e


def _script_score_parts(body):
    """Validate a script_score body -> (query, ast, min_score, boost).
    The script is the documented Painless subset of
    functions/painless.py (ES script-score semantics: the script value
    REPLACES the inner query's score; boost then multiplies;
    min_score drops hits whose FINAL boosted score is below the
    threshold; ES's negative-score
    runtime error is not enforced — scripts here are static
    expressions, keep them non-negative)."""
    if not isinstance(body, dict) or "query" not in body \
            or "script" not in body:
        raise ESQueryError("script_score needs 'query' and 'script'")
    bad = set(body) - {"query", "script", "min_score", "boost"}
    if bad:
        raise ESQueryError(f"unsupported script_score keys: {sorted(bad)}")
    ast = _script_parse(body["script"])
    ms = body.get("min_score")
    return (body["query"], ast, None if ms is None else float(ms),
            float(body.get("boost", 1.0)))


# ---------------------------------------------------------------------------
# driver-local (pandas) evaluation — None means "over budget, go Spark"
# ---------------------------------------------------------------------------

def _match_pd(ctx: _Ctx, reader: IndexReader, spec: dict):
    from ..functions.analyzer import analyze_query

    k1 = reader.stats["k1"] if ctx.k1 is None else ctx.k1
    b = reader.stats["b"] if ctx.b is None else ctx.b
    qterms = analyze_query(
        spec["query"], mode=reader.stats.get("analyzer", "english_folded"))
    if not qterms:
        return _NO_HITS.copy()
    if _fuzzy_flag(spec):
        if reader.vocab_arrow() is None:
            return None  # vocabulary over budget: expansion needs a job
        meta = _fuzzy_term_meta(reader, qterms, k1, b,
                                int(spec.get("max_expansions", 50)))
    else:
        meta = _term_meta(reader, qterms, k1, b)
    return _fold_meta_pd(reader, meta, k1, b)


def _term_pd(ctx: _Ctx, reader: IndexReader, spec: dict):
    """ES term query, serving tier: the UNanalyzed value looked up as a
    literal index term, BM25-scored (qtf=1) — same budget gate and
    numpy fold as _match_pd (shared via _fold_meta_pd)."""
    k1 = reader.stats["k1"] if ctx.k1 is None else ctx.k1
    b = reader.stats["b"] if ctx.b is None else ctx.b
    return _fold_meta_pd(
        reader, _term_meta(reader, [(str(spec["value"]), 1)], k1, b),
        k1, b)


def _const_docs_pd(reader: IndexReader, terms: list[str], df_sum: int,
                   boost: float):
    """Constant-score match set, serving tier: every live doc holding
    ≥1 of the given index terms scores ``boost`` (the ES
    constant_score multi-term rewrite). Same Σ df posting budget and
    tombstone mask as the scored paths; None = go distributed."""
    if not terms:
        return _NO_HITS.copy()
    if df_sum > reader.driver_local_max_postings:
        return None
    deleted = None
    if reader.has_deletes:
        if reader.n_deleted_rows > DRIVER_LOCAL_MAX_DELETES:
            return None
        deleted = _deleted_ids_arrow(reader)
    rows = _fetch_term_blocks_arrow(reader, sorted(set(terms)))
    ids = [delta_decode(vb_decode(bytes(g))) for g in rows["doc_gaps"]]
    docs = (np.unique(np.concatenate(ids)) if ids
            else np.empty(0, np.int64))
    if deleted is not None and deleted.size and docs.size:
        docs = docs[~np.isin(docs, deleted)]
    return pd.DataFrame({"doc_id": docs.astype(np.int64),
                         "score": np.full(docs.size, float(boost))})


def _expand_pattern_pd(ctx: _Ctx, kind: str, body: dict):
    """prefix/wildcard, serving tier: expand against the in-RAM
    vocabulary (None when it is over budget), then the constant-score
    doc set."""
    field, spec = _value_spec(body)
    reader = ctx.reader(field)
    vocab = reader.vocab_arrow()
    if vocab is None:
        return None
    value = str(spec["value"])
    if kind == "prefix":
        mask = vocab["term"].str.startswith(value)
    elif kind == "regexp":
        mask = vocab["term"].str.match(_regexp_pattern(value))
    else:
        mask = vocab["term"].str.fullmatch(_wildcard_regex(value))
    matched = vocab[mask.fillna(False).astype(bool)]
    if matched.empty:
        return _NO_HITS.copy()
    return _const_docs_pd(reader, matched["term"].tolist(),
                          int(matched["df"].sum()),
                          float(spec.get("boost", 1.0)))


def _scale_pd(pdf, boost: float):
    if pdf is None or boost == 1.0:
        return pdf
    out = pdf.copy()
    out["score"] = out["score"].to_numpy(np.float64) * float(boost)
    return out


def _combine_fields_pd(frames: list, mtype: str, tie_breaker: float):
    if not frames:
        return _NO_HITS.copy()
    allf = pd.concat(frames, ignore_index=True)
    g = allf.groupby("doc_id", sort=True)["score"]
    if mtype == "most_fields":
        score = g.sum()
    else:  # best_fields / phrase: best field + tie_breaker * rest
        mx, sm = g.max(), g.sum()
        score = mx + float(tie_breaker) * (sm - mx)
    return pd.DataFrame({"doc_id": score.index.to_numpy(np.int64),
                         "score": score.to_numpy(np.float64)})


def _match_and_rewrite(ctx: _Ctx, field: str, spec: dict) -> dict | None:
    """ES ``match`` with ``operator: "and"``: every analyzed term must
    match; scores still sum. Compiles to a bool must of per-term
    ``term`` clauses (boost = the term's qtf, times the match boost) —
    exactly the Lucene BooleanQuery ES builds for this operator — so
    both evaluation paths reuse the existing machinery unchanged.
    Returns None for the default ``or`` operator."""
    op = str(spec.get("operator", "or")).lower()
    if op == "or":
        return None
    if op != "and":
        raise ESQueryError(f"match operator {op!r} unsupported (or/and)")
    if _fuzzy_flag(spec):
        raise ESQueryError(
            "operator: and with fuzziness is unsupported (expansion "
            "makes 'all terms' ill-defined; use bool must of fuzzy "
            "matches per word instead)")
    from ..functions.analyzer import analyze_query

    reader = ctx.reader(field)
    boost = float(spec.get("boost", 1.0))
    qterms = analyze_query(
        spec["query"], mode=reader.stats.get("analyzer", "english_folded"))
    return {"bool": {"must": [
        {"term": {field: {"value": t, "boost": float(q) * boost}}}
        for t, q in qterms]}} if qterms else {"bool": {"must": [
            {"term": {field: "\x00never"}}]}}


def _cross_fields_rewrite(ctx: _Ctx, body: dict) -> dict:
    """multi_match type ``cross_fields``: term-centric combination — the
    query is analyzed ONCE (every field of this engine shares one
    analyzer, ES's single-analyzer-group case) and EACH analyzed term
    must be findable in ANY field: per term, a dis_max over unanalyzed
    ``term`` clauses against each field (per-field boosts +
    tie_breaker), combined across terms by operator/
    minimum_should_match — the per-TERM-group semantics that
    field-centric best_fields cannot express. Compiles onto existing
    hash-checked primitives, so both evaluation paths (and their
    bit-identity) come for free. Documented deviation from Lucene's
    BlendedTermQuery: each field scores a term with its OWN df rather
    than a blended cross-field df."""
    fields = [_field_boost(fs) for fs in
              _aslist(body.get("fields")) or [ctx.default_field]]
    reader = ctx.reader(fields[0][0])
    from ..functions.analyzer import analyze_query

    qterms = analyze_query(
        str(body["query"]),
        mode=reader.stats.get("analyzer", "english_folded"))
    boost = float(body.get("boost", 1.0))
    tie = float(body.get("tie_breaker", 0.0))
    op = str(body.get("operator", "or")).lower()
    if op not in ("or", "and"):
        raise ESQueryError(f"multi_match operator {op!r} unsupported")
    if not qterms:  # empty analysis matches nothing (never-matching term)
        return {"term": {fields[0][0]: "\x00never"}}
    clauses = [
        {"dis_max": {
            "queries": [{"term": {f: {"value": t, "boost": fb}}}
                        for f, fb in fields],
            "tie_breaker": tie,
            "boost": float(q) * boost,
        }}
        for t, q in qterms
    ]
    if op == "and":
        return {"bool": {"must": clauses}}
    out: dict = {"bool": {"should": clauses}}
    msm = body.get("minimum_should_match")
    if msm:
        out["bool"]["minimum_should_match"] = int(msm)
    return out


def _mbp_rewrite(ctx: _Ctx, body: dict) -> dict:
    """``match_bool_prefix``: the analyzed tokens become term clauses
    and the LAST one a prefix clause, combined in a bool per
    ``operator`` (default or) / ``minimum_should_match`` — ES's
    documented construction ("constructs a bool query from the terms…
    the last term is used in a prefix query"). Token order comes from
    the positional analyzer pass (not the deduped bag), so "quick br"
    prefixes on "br" even when the query repeats terms."""
    from ..functions.analyzer import analyze

    field, spec = _leaf_spec(body)
    reader = ctx.reader(field)
    toks = analyze(str(spec["query"]),
                   mode=reader.stats.get("analyzer", "english_folded"))
    if not toks:
        raise ESQueryError(
            "match_bool_prefix query analyzed to no tokens")
    clauses = [{"term": {field: {"value": t}}} for t in toks[:-1]]
    clauses.append({"prefix": {field: {
        "value": toks[-1],
        "max_expansions": int(spec.get("max_expansions", 50))}}})
    if str(spec.get("operator", "or")).lower() == "and":
        return {"bool": {"must": clauses}}
    out = {"bool": {"should": clauses}}
    msm = spec.get("minimum_should_match")
    if msm is not None:
        out["bool"]["minimum_should_match"] = msm
    return out


def _rank_feature_df(ctx: _Ctx, body: dict) -> DataFrame:
    """``rank_feature``: score docs by a stored positive numeric column
    through one of ES's four transforms — saturation x/(x+pivot) (the
    default; pivot defaults to the field's geometric mean, which ES
    approximates and we compute EXACTLY — deterministic superset, same
    policy as cardinality/percentiles), log ln(scaling_factor + x),
    sigmoid x^e/(x^e + pivot^e), linear x — times boost. Matches only
    docs where the field is present and > 0 (rank_feature fields store
    positive values). Always distributed: one pruned (doc_id, field)
    docs scan, predicate pushed down."""
    if not isinstance(body, dict) or "field" not in body:
        raise ESQueryError("rank_feature needs 'field'")
    field = str(body["field"])
    reader = next(iter(ctx.readers.values()))
    if field not in reader.docs.columns:
        raise ESQueryError(
            f"rank_feature field {field!r} not in docs table "
            f"{sorted(reader.docs.columns)}")
    fns = [k for k in ("saturation", "log", "sigmoid", "linear")
           if k in body]
    if len(fns) > 1:
        raise ESQueryError(
            f"rank_feature takes at most one function, got {fns}")
    bad = set(body) - {"field", "boost", "saturation", "log", "sigmoid",
                       "linear"}
    if bad:
        raise ESQueryError(f"unsupported rank_feature keys: {sorted(bad)}")
    boost = float(body.get("boost", 1.0))
    x = F.col(field).cast("double")
    docs = (reader.live_only(reader.docs.select("doc_id", field))
            .where(x.isNotNull() & (x > 0)))
    fn = fns[0] if fns else "saturation"
    args = body.get(fn) if isinstance(body.get(fn), dict) else {}
    if fn == "saturation":
        pivot = args.get("pivot")
        if pivot is None:
            row = docs.agg(F.exp(F.avg(F.log(x))).alias("g")).first()
            pivot = float(row["g"]) if row["g"] is not None else 1.0
        pivot = float(pivot)
        if pivot <= 0:
            raise ESQueryError("saturation pivot must be > 0")
        s = x / (x + F.lit(pivot))
    elif fn == "log":
        sf = float(args.get("scaling_factor", 1.0))
        if sf <= 0:
            raise ESQueryError("log scaling_factor must be > 0")
        s = F.log(F.lit(sf) + x)
    elif fn == "sigmoid":
        if "pivot" not in args or "exponent" not in args:
            raise ESQueryError("sigmoid needs 'pivot' and 'exponent'")
        p, e = float(args["pivot"]), float(args["exponent"])
        if p <= 0 or e <= 0:
            raise ESQueryError("sigmoid pivot/exponent must be > 0")
        s = F.pow(x, F.lit(e)) / (F.pow(x, F.lit(e)) + F.lit(p ** e))
    else:
        s = x
    return docs.select("doc_id", (F.lit(boost) * s).alias("score"))


# pinned docs rank above ANY organic hit, in the given order — Lucene's
# PinnedQueryBuilder shape (Float.MAX_VALUE/2 minus the pin rank), with
# the rank step widened to 1e30: at 1.7e38 a float64 ulp is ~3.8e22, so
# Lucene's literal "-rank" would tie every pin and lose the order
_PINNED_BASE = 1.7014117331926443e38
_PINNED_STEP = 1e30
_PINNED_MAX_IDS = 100  # ES's cap


def _wrapper_rewrite(body) -> dict:
    """ES ``wrapper`` query: a base64-encoded JSON clause, decoded and
    dispatched like any other (ES uses it to smuggle query bodies
    through JSON-hostile transports)."""
    import base64
    import json

    if not isinstance(body, dict) or "query" not in body:
        raise ESQueryError("wrapper needs 'query' (base64-encoded JSON)")
    try:
        inner = json.loads(base64.b64decode(str(body["query"]),
                                            validate=True))
    except Exception as e:
        raise ESQueryError(
            f"wrapper query is not base64-encoded JSON: {e}")
    if not isinstance(inner, dict):
        raise ESQueryError("wrapper query must decode to a clause dict")
    # the text-syntax expansion pass runs BEFORE clause dispatch, so a
    # decoded payload holding a query_string / simple_query_string
    # clause must expand here or it would be rejected as unsupported
    # even though both grammars are supported (ADVICE r5)
    from .querystring import expand_query_strings

    try:
        return expand_query_strings(inner)
    except ESQueryError:
        raise
    except Exception as e:
        raise ESQueryError(f"wrapper query payload: {e}")


def _pinned_parts(body) -> tuple[list[int], dict]:
    """ES ``pinned`` query: promote explicit doc ids above every
    organic hit, in the given order."""
    if not isinstance(body, dict) or "ids" not in body \
            or "organic" not in body:
        raise ESQueryError("pinned needs 'ids' and 'organic'")
    ids = body["ids"]
    if not isinstance(ids, (list, tuple)) or not ids:
        raise ESQueryError("pinned ids must be a non-empty list")
    if len(ids) > _PINNED_MAX_IDS:
        raise ESQueryError(
            f"pinned supports at most {_PINNED_MAX_IDS} ids (ES cap)")
    if len(set(int(i) for i in ids)) != len(ids):
        raise ESQueryError("pinned ids must be distinct")
    return [int(i) for i in ids], body["organic"]


def _distance_feature_df(ctx: _Ctx, body: dict) -> DataFrame:
    """ES ``distance_feature``: score docs by closeness of a stored
    numeric column to ``origin`` — boost · pivot/(pivot + |x − origin|)
    (the published formula for numeric/date fields; geo is out of
    scope, no geo data exists in this engine). Matches docs where the
    field is present. Same pruned docs-scan shape as rank_feature."""
    if not isinstance(body, dict) or not {"field", "origin",
                                          "pivot"} <= set(body):
        raise ESQueryError(
            "distance_feature needs 'field', 'origin', and 'pivot'")
    bad = set(body) - {"field", "origin", "pivot", "boost"}
    if bad:
        raise ESQueryError(
            f"unsupported distance_feature keys: {sorted(bad)}")
    field = str(body["field"])
    reader = next(iter(ctx.readers.values()))
    if field not in reader.docs.columns:
        raise ESQueryError(
            f"distance_feature field {field!r} not in docs table "
            f"{sorted(reader.docs.columns)}")
    try:
        origin = float(body["origin"])
        pivot = float(body["pivot"])
    except (TypeError, ValueError):
        raise ESQueryError(
            "distance_feature origin/pivot must be numeric (dates: "
            "pass epoch numbers; geo is unsupported)")
    if pivot <= 0:
        raise ESQueryError("distance_feature pivot must be > 0")
    boost = float(body.get("boost", 1.0))
    x = F.col(field).cast("double")
    docs = (reader.live_only(reader.docs.select("doc_id", field))
            .where(x.isNotNull()))
    score = F.lit(boost) * F.lit(pivot) / (F.lit(pivot)
                                           + F.abs(x - F.lit(origin)))
    return docs.select("doc_id", score.alias("score"))


def _clause_pd(ctx: _Ctx, clause: dict):
    if not isinstance(clause, dict) or len(clause) != 1:
        raise ESQueryError(f"clause must have exactly one key: {clause!r}")
    [(kind, body)] = clause.items()
    if kind == "match":
        field, spec = _leaf_spec(body)
        rewritten = _match_and_rewrite(ctx, field, spec)
        if rewritten is not None:
            return _clause_pd(ctx, rewritten)
        out = _match_pd(ctx, ctx.reader(field), spec)
        return _scale_pd(out, float(spec.get("boost", 1.0)))
    if kind == "constant_score":
        if not isinstance(body, dict) or "filter" not in body:
            raise ESQueryError("constant_score needs a 'filter' clause")
        inner = _clause_pd(ctx, body["filter"])
        if inner is None:
            return None
        out = inner.copy()
        out["score"] = np.full(len(out), float(body.get("boost", 1.0)))
        return out
    if kind == "match_phrase":
        field, spec = _leaf_spec(body)
        reader = ctx.reader(field)
        if int(spec.get("slop", 0)) > 0:
            return _sloppy_phrase_pd(ctx, reader, spec)
        out = _phrase_scores_driver_local(
            reader, spec["query"], ctx.k1, ctx.b)
        return _scale_pd(out, float(spec.get("boost", 1.0)))
    if kind == "span_near":
        field, sspec = _span_near_parts(body)
        return _sloppy_phrase_pd(ctx, ctx.reader(field), sspec)
    if kind == "match_phrase_prefix":
        field, spec = _leaf_spec(body)
        reader = ctx.reader(field)
        if reader.vocab_arrow() is None:
            return None  # expansion needs a job: go distributed
        out = _phrase_prefix_driver_local(
            reader, spec["query"], ctx.k1, ctx.b,
            int(spec.get("max_expansions", 50)))
        return _scale_pd(out, float(spec.get("boost", 1.0)))
    if kind == "match_bool_prefix":
        _, spec = _leaf_spec(body)
        out = _clause_pd(ctx, _mbp_rewrite(ctx, body))
        return None if out is None else _scale_pd(
            out, float(spec.get("boost", 1.0)))
    if kind == "rank_feature":
        return None  # docs-table numeric read: always distributed
    if kind == "fuzzy":
        # term-level fuzzy: the UNanalyzed value expanded within Lucene
        # AUTO edit distance, each expansion a weighted term clause
        # (weight = 1 - ed/min(|q|,|t|)) — the match-with-fuzziness
        # machinery minus analysis
        field, spec = _value_spec(body)
        if _fuzzy_flag({"fuzziness": spec.get("fuzziness", "AUTO")}) \
                is False:
            return _clause_pd(ctx, {"term": {field: spec}})
        reader = ctx.reader(field)
        if reader.vocab_arrow() is None:
            return None  # vocabulary over budget: expansion needs a job
        k1 = reader.stats["k1"] if ctx.k1 is None else ctx.k1
        b = reader.stats["b"] if ctx.b is None else ctx.b
        meta = _fuzzy_term_meta(reader, [(str(spec["value"]), 1)], k1, b,
                                int(spec.get("max_expansions", 50)))
        out = _fold_meta_pd(reader, meta, k1, b)
        return _scale_pd(out, float(spec.get("boost", 1.0)))
    if kind == "dis_max":
        if not isinstance(body, dict) or not body.get("queries"):
            raise ESQueryError("dis_max needs a non-empty 'queries' list")
        frames = []
        for sub in body["queries"]:
            part = _clause_pd(ctx, sub)
            if part is None:
                return None
            if not part.empty:
                frames.append(part)
        out = _combine_fields_pd(
            frames, "best_fields", float(body.get("tie_breaker", 0.0)))
        return _scale_pd(out, float(body.get("boost", 1.0)))
    if kind == "multi_match" and isinstance(body, dict) \
            and body.get("type") == "cross_fields":
        return _clause_pd(ctx, _cross_fields_rewrite(ctx, body))
    if kind == "multi_match":
        mtype, fields, tie = _multi_match_parts(ctx, body)
        frames = []
        for fname, fboost in fields:
            reader = ctx.reader(fname)
            if mtype == "phrase":
                part = _phrase_scores_driver_local(
                    reader, body["query"], ctx.k1, ctx.b)
            else:
                part = _match_pd(ctx, reader, body)
            if part is None:
                return None
            if not part.empty:
                frames.append(_scale_pd(part, fboost))
        out = _combine_fields_pd(frames, mtype, tie)
        return _scale_pd(out, float(body.get("boost", 1.0)))
    if kind == "term":
        field, spec = _value_spec(body)
        if _keyword_field(ctx, field) is not None:
            return None  # docs-table metadata read: always distributed
        out = _term_pd(ctx, ctx.reader(field), spec)
        return _scale_pd(out, float(spec.get("boost", 1.0)))
    if kind == "terms":
        field, values, boost = _terms_parts(body)
        if _keyword_field(ctx, field) is not None:
            return None  # docs-table metadata read: always distributed
        reader = ctx.reader(field)
        ts = reader.term_stats_arrow(values)
        if ts.empty:
            return _NO_HITS.copy()
        return _const_docs_pd(reader, ts["term"].tolist(),
                              int(ts["df"].sum()), boost)
    if kind in ("prefix", "wildcard", "regexp"):
        return _expand_pattern_pd(ctx, kind, body)
    if kind in ("range", "exists", "terms_set"):
        return None  # docs-table metadata read: always distributed
    if kind == "ids":
        values = (body or {}).get("values")
        if not values:
            raise ESQueryError("ids clause needs a non-empty 'values'")
        reader = next(iter(ctx.readers.values()))
        present = _ids_present_arrow(reader, values)
        return pd.DataFrame({
            "doc_id": present,
            "score": np.full(present.size,
                             float((body or {}).get("boost", 1.0)))})
    if kind == "wrapper":
        return _clause_pd(ctx, _wrapper_rewrite(body))
    if kind == "distance_feature":
        return None  # docs-table numeric read: always distributed
    if kind == "pinned":
        ids, organic = _pinned_parts(body)
        org = _clause_pd(ctx, organic)
        if org is None:
            return None
        reader = next(iter(ctx.readers.values()))
        pset = set(_ids_present_arrow(reader, ids).tolist())
        rows = [(i, _PINNED_BASE - pos * _PINNED_STEP)
                for pos, i in enumerate(ids) if i in pset]
        pinned = pd.DataFrame(rows, columns=["doc_id", "score"]) \
            if rows else _NO_HITS.copy()
        org = org[~org["doc_id"].isin({i for i, _ in rows})]
        return pd.concat([pinned, org], ignore_index=True)
    if kind == "more_like_this":
        out = _clause_pd(ctx, _mlt_rewrite(ctx, body))
        return _scale_pd(out, float(body.get("boost", 1.0)))
    if kind == "boosting":
        if not isinstance(body, dict) or "positive" not in body \
                or "negative" not in body:
            raise ESQueryError("boosting needs 'positive' and 'negative'")
        nb = float(body.get("negative_boost", 0.5))
        pos = _clause_pd(ctx, body["positive"])
        if pos is None:
            return None
        neg = _clause_pd(ctx, body["negative"])
        if neg is None:
            return None
        if pos.empty or neg.empty:
            return pos
        sc = pos["score"].to_numpy(np.float64)
        mask = pos["doc_id"].isin(set(neg["doc_id"].tolist())).to_numpy()
        out = pos.copy()
        out["score"] = np.where(mask, sc * nb, sc)
        return out
    if kind == "script_score":
        from ..functions import painless
        query, ast, min_score, boost = _script_score_parts(body)
        if painless.doc_fields(ast):
            return None  # docs-column read: always distributed
        if not painless.is_exact(ast):
            # transcendental call (log/exp/pow/sigmoid): libm and the
            # JVM may differ by an ulp, so the bit-identity guarantee
            # requires the distributed path on BOTH sides
            return None
        base = _clause_pd(ctx, query)
        if base is None:
            return None
        if base.empty:
            return base
        out = base.copy()
        out["score"] = painless.to_numpy(ast)(
            out["score"].to_numpy(np.float64), {})
        out = _scale_pd(out, boost)
        if min_score is not None:
            # min_score excludes on the FINAL (boosted) score — same
            # order as _script_score_df
            out = out[out["score"] >= min_score]
        return out
    if kind == "function_score":
        _function_score_parts(ctx, body)  # validate eagerly, then go
        return None                       # distributed (docs-column scan)
    if kind == "bool":
        return _bool_pd(ctx, body)
    if kind == "match_all":
        return None  # corpus-sized: always distributed
    raise ESQueryError(f"unsupported clause type {kind!r}")


def _bool_pd(ctx: _Ctx, spec: dict):
    should = [_clause_pd(ctx, c) for c in _aslist(spec.get("should"))]
    must = [_clause_pd(ctx, c) for c in _aslist(spec.get("must"))]
    filt = [_clause_pd(ctx, c) for c in _aslist(spec.get("filter"))]
    mustnot = [_clause_pd(ctx, c) for c in _aslist(spec.get("must_not"))]
    if any(x is None for x in should + must + filt + mustnot):
        return None
    msm = int(spec.get("minimum_should_match", 0) or 0)
    if not must and not filt and not should:
        if mustnot:
            return None  # match_all minus exclusions: corpus-sized
        raise ESQueryError("empty bool query")

    if must:
        ids = reduce(lambda a, b: a.intersection(b),
                     (pd.Index(m["doc_id"]) for m in must))
        base = pd.DataFrame({"doc_id": ids.to_numpy(np.int64)})
        base["score"] = np.zeros(len(base))
        for m in must:
            s = m.set_index("doc_id")["score"]
            base["score"] += s.reindex(base["doc_id"]).to_numpy(np.float64)
    elif filt:
        ids = reduce(lambda a, b: a.intersection(b),
                     (pd.Index(f["doc_id"]) for f in filt))
        base = pd.DataFrame({"doc_id": ids.to_numpy(np.int64),
                             "score": np.zeros(len(ids))})
        filt = []
    else:
        base = None

    if should:
        allc = pd.concat(
            [s.assign(_cid=i) for i, s in enumerate(should)],
            ignore_index=True)
        agg = allc.groupby("doc_id").agg(
            sscore=("score", "sum"), n=("_cid", "size"))
        if base is None:
            agg = agg[agg["n"] >= max(msm, 1)]
            base = pd.DataFrame({
                "doc_id": agg.index.to_numpy(np.int64),
                "score": agg["sscore"].to_numpy(np.float64)})
        else:
            s = agg["sscore"].reindex(base["doc_id"])
            n = agg["n"].reindex(base["doc_id"]).fillna(0)
            base = base.assign(
                score=base["score"].to_numpy(np.float64)
                + s.fillna(0.0).to_numpy(np.float64))
            if msm:
                base = base[n.to_numpy() >= msm]
    for f in filt:
        base = base[base["doc_id"].isin(f["doc_id"])]
    for mn in mustnot:
        base = base[~base["doc_id"].isin(mn["doc_id"])]
    out = base.reset_index(drop=True)
    return _scale_pd(out, float(spec.get("boost", 1.0)))


# ---------------------------------------------------------------------------
# distributed (Spark) evaluation
# ---------------------------------------------------------------------------

def _scale_df(df: DataFrame, boost: float) -> DataFrame:
    if boost == 1.0:
        return df
    return df.select("doc_id",
                     (F.col("score") * F.lit(float(boost))).alias("score"))


def _decode_docids(batches):
    """mapInPandas: posting blocks -> bare doc_id rows (the membership
    decode for constant-score multi-term queries — tfs/dls stay
    unread)."""
    for pdf in batches:
        if pdf.empty:
            continue
        ids = [delta_decode(vb_decode(bytes(g))) for g in pdf["doc_gaps"]]
        if ids:
            yield pd.DataFrame({
                "doc_id": np.concatenate(ids).astype(np.int64)})


def _term_df(ctx: _Ctx, reader: IndexReader, value: str) -> DataFrame:
    """ES term query, distributed: literal index-term lookup (no
    analysis), BM25-scored on the distributed executor. One clause, so
    each decode partition folds on its own — no doc_id shuffle."""
    k1 = reader.stats["k1"] if ctx.k1 is None else ctx.k1
    b = reader.stats["b"] if ctx.b is None else ctx.b
    meta = _term_meta(reader, [(value, 1)], k1, b)
    if meta.empty:
        return _hits_df(ctx.spark, _NO_HITS)
    return _all_match_scores(reader, meta, k1, b)


def _const_docs_df(reader: IndexReader, term_pred,
                   boost: float) -> DataFrame:
    """Constant-score match set, distributed: the term predicate pushes
    into the postings scan (term-sorted files => row-group min/max term
    stats skip non-matching groups), only doc_gaps decode, distinct
    doc_ids score ``boost``. No driver-side expansion at any vocabulary
    size."""
    ids = (reader.postings.filter(term_pred).select("doc_gaps")
           .mapInPandas(_decode_docids, schema="doc_id bigint")
           .distinct())
    return reader.live_only(ids).select(
        "doc_id", F.lit(float(boost)).alias("score"))


def _sloppy_displacements(slop: int, in_order: bool):
    """(displacement, weight) pairs: d in [1, slop+1] at Lucene's
    sloppy weight 1/(1+gap) = 1/|d|, mirrored for unordered matching
    (span_near in_order=false).

    DOCUMENTED DEVIATION (ADVICE r5 medium): ``match_phrase`` with
    ``slop`` keeps in_order=True, so transposed occurrences ("b a" for
    query "a b") never match even at slop >= 2, where ES/Lucene's
    sloppy matcher WOULD match them (at transposition cost — weight
    1/(d+2) for the reversed pair). Unordered matching is reachable
    explicitly via ``span_near`` with ``in_order: false``. The
    in-order restriction is part of this engine's hash-checked
    ``engine_sloppy_phrase_documents`` contract; also recorded in
    OPERATORS.md."""
    ds = [(d, 1.0 / d) for d in range(1, slop + 2)]
    if not in_order:
        ds += [(-d, 1.0 / d) for d in range(1, slop + 2)]
    return ds


def _sloppy_prep(ctx: _Ctx, reader: IndexReader, spec: dict):
    """Shared prologue of the proximity paths: resolve the two terms
    (analyzed from spec['query'], or raw index terms via
    spec['_raw_terms'] for span_near), their summed idf, and k1/b.
    Returns None when a term is absent from the index (no match)."""
    from .scorer import _phrase_prologue, bm25_idf

    if "_raw_terms" in spec:
        t_a, t_b = spec["_raw_terms"]
        ts = reader.term_stats_arrow([t_a, t_b])
        have = set(ts["term"]) if not ts.empty else set()
        if {t_a, t_b} - have:
            return None
        dfs = dict(zip(ts["term"], ts["df"]))
        n = reader.stats["n_docs"]
        sum_idf = float(
            bm25_idf(n, np.array([dfs[t_a]], dtype=np.int64))[0]
            + bm25_idf(n, np.array([dfs[t_b]], dtype=np.int64))[0])
        k1 = reader.stats["k1"] if ctx.k1 is None else ctx.k1
        b = reader.stats["b"] if ctx.b is None else ctx.b
        df_sum = int(dfs[t_a] + dfs[t_b])
        return t_a, t_b, sum_idf, k1, b, df_sum
    ordered_terms, uniq, meta, sum_idf, k1, b = _phrase_prologue(
        reader, spec["query"], ctx.k1, ctx.b)
    _check_sloppy_terms(ordered_terms)
    if len(meta) < len(uniq):
        return None
    return (*ordered_terms, sum_idf, k1, b, int(meta["df"].sum()))


def _sloppy_phrase_pd(ctx: _Ctx, reader: IndexReader, spec: dict):
    """match_phrase slop / span_near, serving tier: numpy position-pair
    weighting over the driver-local positional fetch, or None when
    over budget."""
    from .scorer import _PHRASE_SHIFT, _positions_local

    slop = int(spec.get("slop", 0))
    prep = _sloppy_prep(ctx, reader, spec)
    if prep is None:
        return _NO_HITS.copy()
    t_a, t_b, sum_idf, k1, b, df_sum = prep
    if df_sum > reader.driver_local_max_postings:
        return None
    if reader.has_deletes and \
            reader.n_deleted_rows > DRIVER_LOCAL_MAX_DELETES:
        return None
    uniq = list(dict.fromkeys([t_a, t_b]))
    by_term, dl_docs, dl_vals = _positions_local(reader, uniq)
    if any(t not in by_term for t in uniq):
        return _NO_HITS.copy()
    _, keys_a = by_term[t_a]
    _, keys_b = by_term[t_b]
    acc: dict[int, float] = {}
    for d, w in _sloppy_displacements(slop,
                                      bool(spec.get("in_order", True))):
        inter = np.intersect1d(keys_a + d, keys_b)
        if not inter.size:
            continue
        docs = inter // _PHRASE_SHIFT
        u, c = np.unique(docs, return_counts=True)
        for doc, n in zip(u.tolist(), c.tolist()):
            acc[doc] = acc.get(doc, 0.0) + n * w
    if not acc:
        return _NO_HITS.copy()
    match_docs = np.fromiter(acc.keys(), dtype=np.int64, count=len(acc))
    wtf = np.fromiter(acc.values(), dtype=np.float64, count=len(acc))
    dls = dl_vals[np.searchsorted(dl_docs, match_docs)].astype(
        np.float64)
    avgdl = float(reader.stats["avgdl"])
    scores = sum_idf * wtf / (wtf + k1 * (1 - b + b * dls / avgdl))
    if reader.has_deletes:
        deleted = _deleted_ids_arrow(reader)
        if deleted.size:
            keep = ~np.isin(match_docs, deleted)
            match_docs, scores = match_docs[keep], scores[keep]
    out = pd.DataFrame({"doc_id": match_docs, "score": scores})
    return _scale_pd(out, float(spec.get("boost", 1.0)))


def _span_near_parts(body) -> tuple[str, dict]:
    """Normalize a span_near body to the sloppy-proximity spec:
    ``{"span_near": {"clauses": [{"span_term": {field: v}}, ...],
    "slop": N, "in_order": bool, "boost": b}}`` — exactly TWO
    span_term clauses (the pairwise machinery), one field, raw
    UNanalyzed index terms (span semantics)."""
    if not isinstance(body, dict) or not body.get("clauses"):
        raise ESQueryError("span_near needs a 'clauses' list")
    clauses = body["clauses"]
    if len(clauses) != 2:
        raise ESQueryError(
            "span_near supports exactly TWO span_term clauses (the "
            f"pairwise sloppy machinery); got {len(clauses)}")
    terms, fields = [], []
    for c in clauses:
        if not isinstance(c, dict) or len(c) != 1 \
                or "span_term" not in c:
            raise ESQueryError(
                f"span_near clauses must be span_term: {c!r}")
        [(f, v)] = c["span_term"].items()
        if isinstance(v, dict):
            v = v.get("value")
        fields.append(f)
        terms.append(str(v))
    if len(set(fields)) != 1:
        raise ESQueryError("span_near clauses must target ONE field")
    return fields[0], {
        "_raw_terms": terms,
        "slop": int(body.get("slop", 0)),
        "in_order": bool(body.get("in_order", True)),
        "boost": float(body.get("boost", 1.0)),
    }


def _check_sloppy_terms(ordered_terms: list[str]):
    if len(ordered_terms) != 2:
        raise ESQueryError(
            "slop is supported for TWO-term phrases (the all-pairs "
            f"1/(1+gap) weighting); got {len(ordered_terms)} terms")


def _sloppy_phrase_df(ctx: _Ctx, reader: IndexReader,
                      spec: dict) -> DataFrame:
    """match_phrase with slop, distributed: decode positions of the two
    terms from the bucket-pruned positional postings, then ONE
    equi-join per displacement d in [1, slop+1] on the shifted global
    key (doc·2³²+pos) — hash joins, never a range join — unioned with
    weight 1/d and summed per doc. Weight 1/(1+gap) is Lucene's sloppy
    weight; enumeration counts ALL in-order pairs within the slop (a
    documented deviation from Lucene's greedy single-use matching —
    identical whenever term occurrences don't compete for partners)."""
    from .indexer import decode_positions_block
    from .scorer import _PHRASE_SHIFT

    slop = int(spec.get("slop", 0))
    spark = ctx.spark
    prep = _sloppy_prep(ctx, reader, spec)
    if prep is None:
        return _hits_df(spark, _NO_HITS)
    t_a, t_b, sum_idf, k1, b, _df_sum = prep
    uniq = list(dict.fromkeys([t_a, t_b]))
    buckets = sorted(set(reader.bucket_of(uniq).values()))
    posts = (reader.postings
             .filter(F.col("bucket").isin(buckets)
                     & F.col("term").isin(uniq))
             .select("term", "doc_gaps", "dls", "poss"))

    def _flatten(it):
        for pdf in it:
            for r in pdf.itertuples(index=False):
                doc_ids = delta_decode(vb_decode(bytes(r.doc_gaps)))
                dls = vb_decode(bytes(r.dls)).astype(np.int64)
                poss = decode_positions_block(bytes(r.poss),
                                              doc_ids.size)
                lens = np.fromiter((p.size for p in poss),
                                   dtype=np.int64, count=doc_ids.size)
                if not lens.sum():
                    continue
                docs_rep = np.repeat(doc_ids, lens).astype(np.int64)
                dls_rep = np.repeat(dls, lens)
                keys = (docs_rep * _PHRASE_SHIFT
                        + np.concatenate(poss).astype(np.int64))
                yield pd.DataFrame({"term": r.term, "key": keys,
                                    "dl": dls_rep})

    flat = posts.mapInPandas(_flatten,
                             "term string, key long, dl long")
    fa = flat.filter(F.col("term") == t_a)
    fb = flat.filter(F.col("term") == t_b).select(
        F.col("key").alias("k"), "dl")
    legs = [
        fa.select((F.col("key") + d).alias("k"),
                  F.lit(w).alias("w"))
        .join(fb, "k")
        for d, w in _sloppy_displacements(
            slop, bool(spec.get("in_order", True)))
    ]
    pairs = reduce(DataFrame.unionByName, legs)
    avgdl = float(reader.stats["avgdl"])
    per_doc = (pairs
               .withColumn("doc_id",
                           F.expr(f"k div {_PHRASE_SHIFT}"))
               .groupBy("doc_id")
               .agg(F.sum("w").alias("wtf"), F.min("dl").alias("dl")))
    scored = per_doc.select(
        "doc_id",
        (F.lit(float(sum_idf)) * F.col("wtf")
         / (F.col("wtf") + F.lit(k1) * (1 - b + b * F.col("dl")
                                        / F.lit(avgdl))))
        .alias("score"))
    return _scale_df(reader.live_only(scored),
                     float(spec.get("boost", 1.0)))


def _terms_set_df(ctx: _Ctx, body) -> DataFrame:
    """ES ``terms_set``: a bool-should of BM25-scored term clauses
    whose minimum_should_match comes PER DOC from a stored field
    (``minimum_should_match_field``; scripts rejected loudly). One leg
    per distinct term (each a single-posting scan), one groupBy over
    matching docs for (Σ score, match count), one pruned docs join for
    the gate. Always distributed — the per-doc gate reads the forward
    table, which the serving tier does not hold in RAM. Docs matching
    zero terms never return (ES BooleanQuery semantics, even when the
    field says 0)."""
    if not isinstance(body, dict) or len(body) != 1:
        raise ESQueryError(f"terms_set needs exactly one field: {body!r}")
    [(field, spec)] = body.items()
    if not isinstance(spec, dict) or not spec.get("terms"):
        raise ESQueryError("terms_set needs a non-empty 'terms' list")
    if spec.get("minimum_should_match_script") is not None:
        raise ESQueryError("minimum_should_match_script is unsupported "
                           "(use minimum_should_match_field)")
    msm_field = spec.get("minimum_should_match_field")
    if not msm_field:
        raise ESQueryError("terms_set needs minimum_should_match_field")
    terms = list(dict.fromkeys(str(t) for t in spec["terms"]))
    reader = ctx.reader(field)
    if msm_field not in reader.docs.columns:
        raise ESQueryError(
            f"minimum_should_match_field {msm_field!r} not in docs "
            f"table {sorted(reader.docs.columns)}")
    legs = [_term_df(ctx, reader, t) for t in terms]
    agg = (reduce(DataFrame.unionByName, legs)
           .groupBy("doc_id")
           .agg(F.sum("score").alias("score"),
                F.count(F.lit(1)).alias("_n")))
    gate = reader.docs.select("doc_id", F.col(msm_field).alias("_req"))
    out = (agg.join(gate, "doc_id")
           .filter(F.col("_n") >= F.col("_req"))
           .select("doc_id", "score"))
    return _scale_df(out, float(spec.get("boost", 1.0)))


def _keyword_field(ctx: _Ctx, field: str):
    """A term-level clause on a field that is NOT an indexed text field
    but IS a stored docs-table column gets ES keyword semantics: exact
    (unanalyzed) value match, constant score = boost. Returns the
    column name, or None when the field should route to the inverted
    index (an indexed field, or the single-field-index fallback for
    names that are not stored columns either)."""
    if field in ctx.readers:
        return None
    docs_cols = next(iter(ctx.readers.values())).docs.columns
    return field if field in docs_cols else None


def _docs_pred_df(ctx: _Ctx, cond, boost: float) -> DataFrame:
    """range/exists: a docs-table metadata predicate, constant-score.
    Filters and the doc_id projection push down to the forward table's
    parquet scan."""
    reader = next(iter(ctx.readers.values()))
    docs = reader.live_only(reader.docs)
    return (docs.filter(cond)
            .select("doc_id", F.lit(float(boost)).alias("score")))


_RANGE_OPS = {"gte": "__ge__", "gt": "__gt__", "lte": "__le__",
              "lt": "__lt__"}


def _range_cond(ctx: _Ctx, body: dict):
    if not isinstance(body, dict) or len(body) != 1:
        raise ESQueryError(f"range clause must have exactly one field: "
                           f"{body!r}")
    [(field, spec)] = body.items()
    if not isinstance(spec, dict):
        raise ESQueryError("range clause needs {gte/gt/lte/lt: value}")
    reader = next(iter(ctx.readers.values()))
    if field not in reader.docs.columns:
        raise ESQueryError(
            f"range field {field!r} not in docs table "
            f"{sorted(reader.docs.columns)}")
    conds = [getattr(F.col(field), op)(F.lit(spec[k]))
             for k, op in _RANGE_OPS.items() if k in spec]
    if not conds:
        raise ESQueryError("range clause needs at least one of "
                           "gte/gt/lte/lt")
    return reduce(lambda a, c: a & c, conds), float(spec.get("boost", 1.0))


def _match_df(ctx: _Ctx, reader: IndexReader, spec: dict) -> DataFrame:
    return search(reader, spec["query"], k1=ctx.k1, b=ctx.b,
                  with_text=False, fuzzy=_fuzzy_flag(spec),
                  max_expansions=int(spec.get("max_expansions", 50)),
                  _all_matches=True).select("doc_id", "score")


def _multi_match_parts(ctx: _Ctx, body: dict):
    mtype = body.get("type", "best_fields")
    if mtype not in ("best_fields", "most_fields", "phrase"):
        raise ESQueryError(f"multi_match type {mtype!r} unsupported "
                           "(best_fields, most_fields, phrase)")
    if str(body.get("operator", "or")).lower() != "or" \
            or body.get("minimum_should_match"):
        # reject loudly rather than silently return OR-semantics hits:
        # plain match DOES honor operator (see _match_and_rewrite) —
        # express per-field AND as a bool of match clauses instead
        raise ESQueryError(
            "multi_match operator/minimum_should_match are unsupported; "
            "use match clauses with operator inside a bool query")
    if mtype == "phrase" and _fuzzy_flag(body):
        raise ESQueryError("ES ignores fuzziness on phrase-type "
                           "multi_match; remove it")
    fields = [_field_boost(fs) for fs in
              _aslist(body.get("fields")) or [ctx.default_field]]
    return mtype, fields, float(body.get("tie_breaker", 0.0))


def _combine_fields_df(ctx: _Ctx, parts: list[DataFrame], mtype: str,
                       tie_breaker: float) -> DataFrame:
    if not parts:
        return _hits_df(ctx.spark, _NO_HITS)
    unioned = reduce(DataFrame.unionByName, parts)
    if mtype == "most_fields":
        agg = F.sum("score").alias("score")
    else:
        agg = (F.max("score") + F.lit(float(tie_breaker))
               * (F.sum("score") - F.max("score"))).alias("score")
    return unioned.groupBy("doc_id").agg(agg)


def _clause_df(ctx: _Ctx, clause: dict) -> DataFrame:
    [(kind, body)] = clause.items()
    if kind == "match":
        field, spec = _leaf_spec(body)
        rewritten = _match_and_rewrite(ctx, field, spec)
        if rewritten is not None:
            return _clause_df(ctx, rewritten)
        out = _match_df(ctx, ctx.reader(field), spec)
        return _scale_df(out, float(spec.get("boost", 1.0)))
    if kind == "constant_score":
        if not isinstance(body, dict) or "filter" not in body:
            raise ESQueryError("constant_score needs a 'filter' clause")
        return _clause_df(ctx, body["filter"]).select(
            "doc_id",
            F.lit(float(body.get("boost", 1.0))).alias("score"))
    if kind == "match_phrase":
        field, spec = _leaf_spec(body)
        if int(spec.get("slop", 0)) > 0:
            return _sloppy_phrase_df(ctx, ctx.reader(field), spec)
        out = phrase_scores(ctx.reader(field), spec["query"], ctx.k1, ctx.b)
        return _scale_df(out, float(spec.get("boost", 1.0)))
    if kind == "span_near":
        field, sspec = _span_near_parts(body)
        return _sloppy_phrase_df(ctx, ctx.reader(field), sspec)
    if kind == "match_phrase_prefix":
        field, spec = _leaf_spec(body)
        out = phrase_prefix_scores(
            ctx.reader(field), spec["query"], ctx.k1, ctx.b,
            int(spec.get("max_expansions", 50)))
        return _scale_df(out, float(spec.get("boost", 1.0)))
    if kind == "match_bool_prefix":
        _, spec = _leaf_spec(body)
        out = _clause_df(ctx, _mbp_rewrite(ctx, body))
        return _scale_df(out, float(spec.get("boost", 1.0)))
    if kind == "rank_feature":
        return _rank_feature_df(ctx, body)
    if kind == "fuzzy":
        field, spec = _value_spec(body)
        if _fuzzy_flag({"fuzziness": spec.get("fuzziness", "AUTO")}) \
                is False:
            return _clause_df(ctx, {"term": {field: spec}})
        reader = ctx.reader(field)
        k1 = reader.stats["k1"] if ctx.k1 is None else ctx.k1
        b = reader.stats["b"] if ctx.b is None else ctx.b
        meta = _fuzzy_term_meta(reader, [(str(spec["value"]), 1)], k1, b,
                                int(spec.get("max_expansions", 50)))
        if meta.empty:
            out = _hits_df(ctx.spark, _NO_HITS)
        else:
            out = _all_match_scores(reader, meta, k1, b)
        return _scale_df(out, float(spec.get("boost", 1.0)))
    if kind == "dis_max":
        if not isinstance(body, dict) or not body.get("queries"):
            raise ESQueryError("dis_max needs a non-empty 'queries' list")
        parts = [_clause_df(ctx, sub) for sub in body["queries"]]
        out = _combine_fields_df(ctx, parts, "best_fields",
                                 float(body.get("tie_breaker", 0.0)))
        return _scale_df(out, float(body.get("boost", 1.0)))
    if kind == "multi_match" and isinstance(body, dict) \
            and body.get("type") == "cross_fields":
        return _clause_df(ctx, _cross_fields_rewrite(ctx, body))
    if kind == "multi_match":
        mtype, fields, tie = _multi_match_parts(ctx, body)
        parts = []
        for fname, fboost in fields:
            reader = ctx.reader(fname)
            if mtype == "phrase":
                part = phrase_scores(reader, body["query"], ctx.k1, ctx.b)
            else:
                part = _match_df(ctx, reader, body)
            parts.append(_scale_df(part, fboost))
        out = _combine_fields_df(ctx, parts, mtype, tie)
        return _scale_df(out, float(body.get("boost", 1.0)))
    if kind == "term":
        field, spec = _value_spec(body)
        kw = _keyword_field(ctx, field)
        if kw is not None:
            return _docs_pred_df(ctx, F.col(kw) == spec["value"],
                                 float(spec.get("boost", 1.0)))
        out = _term_df(ctx, ctx.reader(field), str(spec["value"]))
        return _scale_df(out, float(spec.get("boost", 1.0)))
    if kind == "terms":
        field, values, boost = _terms_parts(body)
        kw = _keyword_field(ctx, field)
        if kw is not None:
            # raw (un-stringified) values: the stored column keeps its
            # native type, and ES terms on keyword/numeric is unanalyzed
            return _docs_pred_df(ctx, F.col(kw).isin(list(body[field])),
                                 boost)
        reader = ctx.reader(field)
        buckets = sorted({int(v) for v in
                          reader.bucket_of(values).values()})
        pred = (F.col("bucket").isin(buckets)
                & F.col("term").isin(values))
        return _const_docs_df(reader, pred, boost)
    if kind == "prefix":
        field, spec = _value_spec(body)
        return _const_docs_df(
            ctx.reader(field),
            F.col("term").startswith(str(spec["value"])),
            float(spec.get("boost", 1.0)))
    if kind == "wildcard":
        field, spec = _value_spec(body)
        rx = "^" + _wildcard_regex(str(spec["value"])) + "$"
        return _const_docs_df(ctx.reader(field), F.col("term").rlike(rx),
                              float(spec.get("boost", 1.0)))
    if kind == "regexp":
        field, spec = _value_spec(body)
        rx = _regexp_pattern(str(spec["value"]))
        return _const_docs_df(ctx.reader(field), F.col("term").rlike(rx),
                              float(spec.get("boost", 1.0)))
    if kind == "terms_set":
        return _terms_set_df(ctx, body)
    if kind == "range":
        cond, boost = _range_cond(ctx, body)
        return _docs_pred_df(ctx, cond, boost)
    if kind == "exists":
        field = (body or {}).get("field")
        if not field:
            raise ESQueryError("exists clause lacks 'field'")
        reader = next(iter(ctx.readers.values()))
        if field not in reader.docs.columns:
            raise ESQueryError(
                f"exists field {field!r} not in docs table "
                f"{sorted(reader.docs.columns)}")
        return _docs_pred_df(ctx, F.col(field).isNotNull(),
                             float(body.get("boost", 1.0)))
    if kind == "ids":
        values = (body or {}).get("values")
        if not values:
            raise ESQueryError("ids clause needs a non-empty 'values'")
        reader = next(iter(ctx.readers.values()))
        docs = reader.live_only(
            reader.docs.select("doc_id")
            .where(F.col("doc_id").isin([int(v) for v in values])))
        return docs.select(
            "doc_id",
            F.lit(float((body or {}).get("boost", 1.0))).alias("score"))
    if kind == "wrapper":
        return _clause_df(ctx, _wrapper_rewrite(body))
    if kind == "distance_feature":
        return _distance_feature_df(ctx, body)
    if kind == "pinned":
        ids, organic = _pinned_parts(body)
        org = _clause_df(ctx, organic)
        reader = next(iter(ctx.readers.values()))
        spark = ctx.spark
        ranked = spark.createDataFrame(
            [(int(i), _PINNED_BASE - pos * _PINNED_STEP)
             for pos, i in enumerate(ids)],
            "doc_id long, score double")
        live = reader.live_only(
            reader.docs.select("doc_id")
            .where(F.col("doc_id").isin(ids)))
        pinned = ranked.join(F.broadcast(live), "doc_id", "left_semi")
        return (org.join(F.broadcast(pinned.select("doc_id")),
                         "doc_id", "left_anti")
                .unionByName(pinned))
    if kind == "more_like_this":
        out = _clause_df(ctx, _mlt_rewrite(ctx, body))
        return _scale_df(out, float(body.get("boost", 1.0)))
    if kind == "boosting":
        if not isinstance(body, dict) or "positive" not in body \
                or "negative" not in body:
            raise ESQueryError("boosting needs 'positive' and 'negative'")
        nb = float(body.get("negative_boost", 0.5))
        pos = _clause_df(ctx, body["positive"])
        neg = (_clause_df(ctx, body["negative"])
               .select("doc_id").distinct()
               .withColumn("_neg", F.lit(1)))
        return (pos.join(neg, "doc_id", "left")
                .select("doc_id",
                        F.when(F.col("_neg").isNotNull(),
                               F.col("score") * F.lit(nb))
                        .otherwise(F.col("score")).alias("score")))
    if kind == "script_score":
        return _script_score_df(ctx, body)
    if kind == "function_score":
        return _function_score_df(ctx, body)
    if kind == "bool":
        return _bool_df(ctx, body)
    if kind == "match_all":
        reader = next(iter(ctx.readers.values()))
        docs = reader.live_only(reader.docs.select("doc_id"))
        boost = float(body.get("boost", 1.0)) if isinstance(body, dict) \
            else 1.0
        return docs.select("doc_id", F.lit(boost).alias("score"))
    raise ESQueryError(f"unsupported clause type {kind!r}")


def _script_score_df(ctx: _Ctx, body: dict) -> DataFrame:
    """script_score, distributed: base scores from the inner query,
    the painless AST compiled to ONE Catalyst expression (no UDF —
    stays inside whole-stage codegen), an optional pruned docs join
    for doc['field'].value reads (missing values coalesce to 0.0),
    then min_score filter and boost. The match frame is never
    corpus-sized unless the inner query is."""
    from ..functions import painless

    query, ast, min_score, boost = _script_score_parts(body)
    base = _clause_df(ctx, query)
    fields = painless.doc_fields(ast)
    if fields:
        reader = next(iter(ctx.readers.values()))
        missing = sorted(set(fields) - set(reader.docs.columns))
        if missing:
            raise ESQueryError(
                f"script doc fields not in docs table: {missing} "
                f"(have {sorted(reader.docs.columns)})")
        base = base.join(reader.docs.select("doc_id", *fields),
                         "doc_id", "left")
    col = painless.to_column(
        ast, F.col("score"),
        lambda f_: F.coalesce(F.col(f_).cast("double"), F.lit(0.0)))
    out = _scale_df(
        base.select("doc_id", col.cast("double").alias("score")), boost)
    if min_score is not None:
        out = out.where(F.col("score") >= F.lit(min_score))
    return out


def _function_score_df(ctx: _Ctx, body: dict) -> DataFrame:
    """function_score, distributed: base scores from the inner query,
    function value per doc (a docs-column expression or weight-per-
    matched-filter-set), combined per score_mode/boost_mode. One left
    join per filtered function + one docs join for field_value_factor —
    the match frame is never corpus-sized, and the docs join prunes to
    (doc_id, field)."""
    query, fvf, funcs, boost_mode, score_mode, max_boost = \
        _function_score_parts(ctx, body)
    base = _clause_df(ctx, query)
    reader = next(iter(ctx.readers.values()))
    if fvf:
        field = str(fvf["field"])
        if field not in reader.docs.columns:
            raise ESQueryError(
                f"field_value_factor field {field!r} not in docs table "
                f"{sorted(reader.docs.columns)}")
        missing = fvf.get("missing")
        raw = F.col(field).cast("double")
        if missing is not None:
            raw = F.coalesce(raw, F.lit(float(missing)))
        v = raw * F.lit(float(fvf.get("factor", 1.0)))
        modifier = str(fvf.get("modifier", "none"))
        if modifier == "log1p":
            v = F.log1p(v)
        elif modifier == "sqrt":
            v = F.sqrt(v)
        elif modifier == "square":
            v = v * v
        joined = base.join(reader.docs.select("doc_id", field),
                           "doc_id", "left")
        fval = v
    else:
        from ..functions import painless

        joined = base
        asts = {id(fn): _script_parse(fn["script_score"]["script"])
                for fn in funcs if "script_score" in fn}
        decay_fields = sorted(
            {next(iter(fn[dk])) for fn in funcs
             for dk in (_DECAY_KINDS & set(fn))}
            | {f for ast in asts.values()
               for f in painless.doc_fields(ast)})
        if decay_fields:
            missing = sorted(set(decay_fields)
                             - set(reader.docs.columns))
            if missing:
                raise ESQueryError(
                    f"decay/script fields not in docs table: {missing}")
            joined = joined.join(
                reader.docs.select("doc_id", *decay_fields),
                "doc_id", "left")
        vals = []
        for i, fn in enumerate(funcs):
            val = F.lit(float(fn.get("weight", 1.0)))
            for dk in _DECAY_KINDS & set(fn):
                field, params = next(iter(fn[dk].items()))
                val = val * _decay_expr(dk, str(field), params)
            if "script_score" in fn:
                # ES: function value = script result; weight multiplies.
                # _score inside the script is the INNER query's score.
                val = val * painless.to_column(
                    asts[id(fn)], F.col("score"),
                    lambda f_: F.coalesce(F.col(f_).cast("double"),
                                          F.lit(0.0)))
            if "filter" in fn:
                m = (_clause_df(ctx, fn["filter"])
                     .select("doc_id").distinct()
                     .withColumn(f"_m{i}", F.lit(1)))
                joined = joined.join(m, "doc_id", "left")
                val = F.when(F.col(f"_m{i}").isNotNull(), val)
            vals.append(val)
        matched = F.filter(F.array(*vals), lambda x: x.isNotNull())
        n = F.size(matched)
        agg = F.aggregate(matched, F.lit(1.0), lambda a, x: a * x) \
            if score_mode == "multiply" else \
            F.aggregate(matched, F.lit(0.0), lambda a, x: a + x)
        if score_mode in ("multiply", "sum"):
            fval = F.when(n > 0, agg).otherwise(F.lit(1.0))
        elif score_mode == "max":
            fval = F.coalesce(F.array_max(matched), F.lit(1.0))
        elif score_mode == "min":
            fval = F.coalesce(F.array_min(matched), F.lit(1.0))
        else:  # avg
            fval = F.when(
                n > 0,
                F.aggregate(matched, F.lit(0.0), lambda a, x: a + x) / n
            ).otherwise(F.lit(1.0))
    if max_boost is not None:
        fval = F.least(fval, F.lit(max_boost))
    if boost_mode == "multiply":
        score = F.col("score") * fval
    elif boost_mode == "sum":
        score = F.col("score") + fval
    else:  # replace
        score = fval
    out = joined.select("doc_id", score.cast("double").alias("score"))
    return _scale_df(out, float(body.get("boost", 1.0)))


def _aslist(x):
    if x is None:
        return []
    return x if isinstance(x, list) else [x]


def _bool_df(ctx: _Ctx, spec: dict) -> DataFrame:
    should = [_clause_df(ctx, c) for c in _aslist(spec.get("should"))]
    must = [_clause_df(ctx, c) for c in _aslist(spec.get("must"))]
    filt = [_clause_df(ctx, c) for c in _aslist(spec.get("filter"))]
    mustnot = [_clause_df(ctx, c) for c in _aslist(spec.get("must_not"))]
    msm = int(spec.get("minimum_should_match", 0) or 0)
    if not must and not filt and not should and not mustnot:
        raise ESQueryError("empty bool query")

    base = None
    if must:
        # every must matches: chained inner joins, scores sum
        base = must[0]
        for i, m in enumerate(must[1:]):
            other = m.withColumnRenamed("score", f"_ms{i}")
            base = (base.join(other, "doc_id")
                    .select("doc_id", (F.col("score")
                                       + F.col(f"_ms{i}")).alias("score")))
    elif filt:
        base = filt[0].select("doc_id", F.lit(0.0).alias("score"))
        filt = filt[1:]

    if should:
        withc = [s.withColumn("_cid", F.lit(i))
                 for i, s in enumerate(should)]
        # every clause frame holds at most ONE row per doc_id (full-match
        # score sets are doc-grouped), so count(*) == distinct clause
        # count — no distinct machinery on the widest shuffle. Per-clause
        # conditional sums each have at most one non-null addend, so they
        # are exact regardless of row arrival order; the clause scores
        # are then folded left-to-right in clause order below, making the
        # distributed sum bit-identical to the serving-tier pandas twin
        # (concat-order groupby fold) at ANY clause count — no grouped
        # F.sum over the union, whose accumulation order is
        # partition-dependent for 3+ addends.
        piv = (reduce(DataFrame.unionByName, withc)
               .groupBy("doc_id")
               .agg(*[F.sum(F.when(F.col("_cid") == i, F.col("score")))
                      .alias(f"_s{i}") for i in range(len(should))],
                    F.count(F.lit(1)).alias("_n")))
        folded = F.coalesce(F.col("_s0"), F.lit(0.0))
        for i in range(1, len(should)):
            folded = folded + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
        agg = piv.select("doc_id", folded.alias("_ss"), "_n")
        if base is None:
            base = (agg.filter(F.col("_n") >= max(msm, 1))
                    .select("doc_id", F.col("_ss").alias("score")))
        else:
            base = base.join(agg, "doc_id", "left")
            if msm:
                base = base.filter(
                    F.coalesce(F.col("_n"), F.lit(0)) >= msm)
            base = base.select(
                "doc_id",
                (F.col("score")
                 + F.coalesce(F.col("_ss"), F.lit(0.0))).alias("score"))
    if base is None:
        # only must_not clauses: ES semantics are match_all minus the
        # exclusions, every hit at score 0 (like a filter context)
        reader = next(iter(ctx.readers.values()))
        base = (reader.live_only(reader.docs.select("doc_id"))
                .select("doc_id", F.lit(0.0).alias("score")))
    for f in filt:
        base = base.join(f.select("doc_id"), "doc_id", "left_semi")
    if mustnot:
        excl = reduce(DataFrame.unionByName,
                      [m.select("doc_id") for m in mustnot])
        base = base.join(excl, "doc_id", "left_anti")
    return _scale_df(base, float(spec.get("boost", 1.0)))


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------

def _collect_query_strings(clause: dict) -> list[str]:
    """Every leaf 'query' string in the tree (for highlighting — ES
    highlights the terms the query matched)."""
    [(kind, body)] = clause.items()
    if kind in ("match", "match_phrase", "match_phrase_prefix"):
        _, spec = _leaf_spec(body)
        return [str(spec["query"])]
    if kind in ("term", "fuzzy"):
        _, spec = _value_spec(body)
        return [str(spec["value"])]
    if kind == "multi_match":
        return [str(body["query"])]
    if kind == "dis_max":
        out = []
        for c in _aslist(body.get("queries")):
            out.extend(_collect_query_strings(c))
        return out
    if kind == "constant_score":
        return _collect_query_strings(body["filter"])
    if kind == "bool":
        out = []
        for key in ("should", "must", "filter"):
            for c in _aslist(body.get(key)):
                out.extend(_collect_query_strings(c))
        return out
    return []


def _search_after_parts(body: dict) -> tuple[float, int] | None:
    """Parse ``search_after: [score, doc_id]`` (the last hit's sort
    values — the ES deep-pagination cursor). At 100 TB this is the
    scalable pagination: ``from`` makes every page recompute and skip
    all prior pages, while search_after is a constant-cost predicate on
    the (score desc, doc_id asc) sort order.

    The cursor compares the EXACT float sort value (as ES does): safe
    because every scoring path is now order-deterministic — term partials
    fold term-sorted (_fold_topk), should/field combinations fold
    clause-pivoted left-to-right — so a recomputed page reproduces the
    previous page's boundary score bit-for-bit on either evaluation path
    (ADVICE r4). Two requirements remain, as in ES: pass the UNROUNDED
    sort values from the previous page's final hit, and paginate against
    the same index generation (pin one via IndexReader(generation=N) /
    snapshot_index when the index mutates between pages).
    """
    sa = body.get("search_after")
    if sa is None:
        return None
    if int(body.get("from", 0)):
        raise ESQueryError(
            "search_after and from are mutually exclusive (ES rejects "
            "the combination too)")
    if not isinstance(sa, (list, tuple)) or len(sa) != 2:
        raise ESQueryError(
            "search_after must be [last_score, last_doc_id] — the sort "
            "values of the previous page's final hit")
    return float(sa[0]), int(sa[1])


def _sort_parts(body: dict):
    """Parse the top-level ``sort`` body key. Returns None when absent
    (default relevance order) else a list of (key, ascending) where key
    is a docs-table column or the specials ``_score`` / ``_doc``.
    Accepts ES's three spellings: "field", {"field": "asc"}, and
    {"field": {"order": "desc"}}. A final (doc_id asc) tiebreak is
    always appended by the consumers, so field sorts are total."""
    sort = body.get("sort")
    if sort is None:
        return None
    if isinstance(sort, (str, dict)):
        sort = [sort]
    if not isinstance(sort, list) or not sort:
        raise ESQueryError("sort must be a non-empty list")
    out = []
    for item in sort:
        if isinstance(item, str):
            key, order = item, None
        elif isinstance(item, dict) and len(item) == 1:
            key, spec = next(iter(item.items()))
            if isinstance(spec, str):
                order = spec
            elif isinstance(spec, dict):
                order = spec.get("order")
                bad = set(spec) - {"order"}
                if bad:
                    raise ESQueryError(
                        f"unsupported sort options for {key!r}: "
                        f"{sorted(bad)} (only 'order')")
            else:
                raise ESQueryError(f"bad sort spec for {key!r}")
        else:
            raise ESQueryError(f"bad sort entry {item!r}")
        if order is None:  # ES default: _score desc, everything else asc
            order = "desc" if key == "_score" else "asc"
        if order not in ("asc", "desc"):
            raise ESQueryError(f"sort order {order!r} must be asc|desc")
        out.append((str(key), order == "asc"))
    return out


def _sort_order_cols(sort) -> list:
    """Catalyst sort expressions for a parsed sort spec (+ the doc_id
    tiebreak). Missing field values sort last, ES's default."""
    order = []
    for key, asc in sort:
        col = (F.col("score") if key == "_score"
               else F.col("doc_id") if key == "_doc" else F.col(key))
        order.append(col.asc_nulls_last() if asc
                     else col.desc_nulls_last())
    order.append(F.asc("doc_id"))
    return order


_RESCORE_MODES = ("total", "multiply", "avg", "max", "min")


def _rescore_parts(body: dict):
    """Parse the top-level ``rescore`` body key (dict or list —
    chained rescores apply sequentially, each over the previous
    ordering). Returns None when absent, else a list of
    (window_size, rescore_query, query_weight, rescore_query_weight,
    score_mode)."""
    rs = body.get("rescore")
    if rs is None:
        return None
    entries = rs if isinstance(rs, list) else [rs]
    if not entries:
        raise ESQueryError("rescore must be non-empty")
    out = []
    for e in entries:
        if not isinstance(e, dict) or "query" not in e:
            raise ESQueryError("each rescore entry needs 'query'")
        bad = set(e) - {"query", "window_size"}
        if bad:
            raise ESQueryError(f"unsupported rescore keys: {sorted(bad)}")
        q = e["query"]
        if not isinstance(q, dict) or "rescore_query" not in q:
            raise ESQueryError("rescore.query needs 'rescore_query'")
        badq = set(q) - {"rescore_query", "query_weight",
                         "rescore_query_weight", "score_mode"}
        if badq:
            raise ESQueryError(
                f"unsupported rescore.query keys: {sorted(badq)}")
        mode = str(q.get("score_mode", "total"))
        if mode not in _RESCORE_MODES:
            raise ESQueryError(
                f"rescore score_mode {mode!r} unsupported {_RESCORE_MODES}")
        w = int(e.get("window_size", 10))
        if w <= 0:
            raise ESQueryError("rescore window_size must be > 0")
        out.append((w, q["rescore_query"],
                    float(q.get("query_weight", 1.0)),
                    float(q.get("rescore_query_weight", 1.0)), mode))
    ws = [w for w, *_ in out]
    if any(b > a for a, b in zip(ws, ws[1:])):
        # a GROWING later window would pull unrescored tail docs back
        # into contention — the distributed path keeps only the window
        # between stages, so reject rather than silently diverge (ES
        # itself recommends non-increasing windows for chained rescore)
        raise ESQueryError(
            f"chained rescore windows must be non-increasing, got {ws}")
    return out


def _rescore_combine_np(base, resc, qw: float, rqw: float, mode: str):
    """Vectorized ES rescore combine: ``resc`` is NaN where the
    rescore query did not match — those docs keep query_weight*base
    (ES semantics)."""
    b = qw * base
    r = rqw * resc
    if mode == "total":
        comb = b + r
    elif mode == "multiply":
        comb = b * r
    elif mode == "avg":
        comb = (b + r) / 2.0
    elif mode == "max":
        comb = np.maximum(b, r)
    else:
        comb = np.minimum(b, r)
    return np.where(np.isnan(r), b, comb)


_KNN_SIMS = ("cosine", "dot_product", "l2_norm", "max_inner_product")


def _knn_parts(body: dict) -> list[dict] | None:
    """Parse the top-level ``knn`` search key (ES 8.x: dict or list of
    dicts, each {field, query_vector, k[, num_candidates, boost,
    similarity]}). Returns None when absent."""
    specs = body.get("knn")
    if specs is None:
        return None
    entries = specs if isinstance(specs, list) else [specs]
    if not entries:
        raise ESQueryError("knn must be non-empty")
    out = []
    for e in entries:
        if not isinstance(e, dict):
            raise ESQueryError(f"knn entry must be a dict: {e!r}")
        bad = set(e) - {"field", "query_vector", "k", "num_candidates",
                        "boost", "similarity"}
        if bad:
            raise ESQueryError(f"unsupported knn keys: {sorted(bad)}")
        if "field" not in e or "query_vector" not in e:
            raise ESQueryError("knn needs 'field' and 'query_vector'")
        qv = e["query_vector"]
        if not isinstance(qv, (list, tuple)) or not qv or not all(
                isinstance(x, (int, float)) for x in qv):
            raise ESQueryError("knn query_vector must be a non-empty "
                               "numeric list")
        k = int(e.get("k", DEFAULT_SIZE))
        if k <= 0:
            raise ESQueryError("knn k must be > 0")
        nc = int(e.get("num_candidates", max(k, 100)))
        if nc < k:
            raise ESQueryError(
                f"knn num_candidates ({nc}) must be >= k ({k}) — ES "
                "rejects this too")
        sim = str(e.get("similarity", "cosine"))
        if sim not in _KNN_SIMS:
            raise ESQueryError(
                f"knn similarity {sim!r} unsupported {_KNN_SIMS}")
        out.append({"field": str(e["field"]),
                    "query_vector": [float(x) for x in qv],
                    "k": k, "boost": float(e.get("boost", 1.0)),
                    "similarity": sim})
    return out


def _knn_df(ctx: _Ctx, spec: dict) -> DataFrame:
    """One knn clause -> its top-k (doc_id, score) frame. EXACT
    brute-force over the stored dense-vector docs column (ES's
    num_candidates is an HNSW breadth knob — a no-op here, where every
    answer is exact: a strict superset of ES's approximate-recall
    guarantee, consistent with the cardinality/percentiles policy).
    Scale: the dot/norm folds are JVM-side higher-order functions over
    the pruned (doc_id, field) scan + one TakeOrderedAndProject — no
    shuffle, no crossJoin, no Python. Scores use ES's dense_vector
    ``_score`` transforms so knn and BM25 contributions are additively
    comparable (both positive, knn in (0, 1] for cosine)."""
    from .similarity import _dot, _norm

    reader = next(iter(ctx.readers.values()))
    field, qv = spec["field"], spec["query_vector"]
    if field not in reader.docs.columns:
        raise ESQueryError(
            f"knn field {field!r} not in docs table "
            f"{sorted(reader.docs.columns)}")
    vec = F.col(field)
    dot = _dot(vec, qv)
    qn = float(np.linalg.norm(np.asarray(qv, dtype=np.float64)))
    sim = spec["similarity"]
    if sim == "cosine":
        score = (F.lit(1.0) + dot / (_norm(vec) * F.lit(qn))) / F.lit(2.0)
    elif sim == "dot_product":
        score = (F.lit(1.0) + dot) / F.lit(2.0)
    elif sim == "l2_norm":
        sq = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(float(x)) for x in qv]),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        score = F.lit(1.0) / (F.lit(1.0) + sq)
    else:  # max_inner_product
        score = F.when(dot < 0, F.lit(1.0) / (F.lit(1.0) - dot)) \
            .otherwise(dot + F.lit(1.0))
    docs = reader.live_only(reader.docs)
    topk = (docs.where(vec.isNotNull())
            .select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(spec["k"]))
    return _scale_df(topk, spec["boost"])


def _eval_body(ctx: _Ctx, body: dict, label: str = "body") -> DataFrame:
    """One query body -> its paginated (doc_id, score) top-k frame.
    The ONE place the serving-vs-distributed dispatch, search_after
    cursor predicate, and from/size pagination live — shared by
    es_search and es_msearch so the two entry points can never return
    different pages for the same body."""
    knn = _knn_parts(body)
    if "query" not in body and knn is None:
        raise ESQueryError(f"{label} lacks 'query' (or 'knn')")
    k = int(body.get("size", DEFAULT_SIZE))
    frm = int(body.get("from", 0))
    after = _search_after_parts(body)
    ms = body.get("min_score")
    if ms is not None:
        ms = float(ms)
    if knn is not None:
        # ES 8.x top-level knn search, alone or hybrid with `query`:
        # each knn clause contributes boost·similarity for its OWN
        # top-k docs only; a `query` contributes its score for every
        # match; a doc found by several legs sums them (ES's hybrid
        # combination). Always distributed — the dense-vector column
        # scan is outside the postings budgets. The legs fold by
        # full-outer joins in FIXED clause order (knn legs first, then
        # query), so the float sum is reproducible at any leg count —
        # same determinism contract as the should-clause fold.
        if (after is not None or _rescore_parts(body) is not None
                or _sort_parts(body) is not None
                or body.get("collapse") is not None):
            raise ESQueryError(
                "knn composes with query/size/from only (no "
                "search_after/rescore/sort/collapse)")
        frames = [_knn_df(ctx, s) for s in knn]
        if "query" in body:
            frames.append(_clause_df(ctx, body["query"]))
        cur = frames[0].withColumnRenamed("score", "_s0")
        for i, f in enumerate(frames[1:], 1):
            cur = cur.join(f.withColumnRenamed("score", f"_s{i}"),
                           "doc_id", "full_outer")
        total = F.coalesce(F.col("_s0"), F.lit(0.0))
        for i in range(1, len(frames)):
            total = total + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
        topk = cur.select("doc_id", total.alias("score"))
        if ms is not None:
            topk = topk.where(F.col("score") >= F.lit(ms))
        topk = topk.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.offset(frm).limit(k) if frm else topk.limit(k)
    rescores = _rescore_parts(body)
    if rescores is not None:
        if ms is not None:
            raise ESQueryError(
                "min_score with rescore is unsupported (apply the "
                "threshold inside the rescore stages instead)")
        # top-k window rescoring (ES `rescore`): the classic
        # cheap-match-then-expensive-requery pattern. Each stage takes
        # the top window_size hits of the current ordering, combines
        # their scores with the rescore query's per score_mode
        # (non-matching window docs keep query_weight*base — ES
        # semantics), and re-sorts the window. Pagination must fit
        # inside every window (ES recommends window >= size; hits
        # beyond the window would need the unrescored tail order —
        # rejected loudly rather than silently wrong).
        if after is not None or _sort_parts(body) is not None \
                or body.get("collapse") is not None:
            raise ESQueryError(
                "rescore composes only with the default relevance "
                "sort (no search_after/sort/collapse — ES rejects "
                "these too)")
        min_w = min(w for w, *_ in rescores)
        if frm + k > min_w:
            raise ESQueryError(
                f"from+size ({frm + k}) exceeds the smallest rescore "
                f"window ({min_w}) — raise window_size")
        # serving tier: every clause frame fits the budgets
        frames_pd = [_clause_pd(ctx, body["query"])] + \
            [_clause_pd(ctx, rq) for _, rq, _, _, _ in rescores]
        if all(f is not None for f in frames_pd):
            cur = frames_pd[0].sort_values(
                ["score", "doc_id"], ascending=[False, True],
                kind="mergesort")
            for (w, _, qw, rqw, mode), rf in zip(rescores, frames_pd[1:]):
                win = cur.iloc[:w].copy()
                rest = cur.iloc[w:]
                rmap = rf.set_index("doc_id")["score"]
                rvals = rmap.reindex(win["doc_id"]).to_numpy(np.float64)
                win["score"] = _rescore_combine_np(
                    win["score"].to_numpy(np.float64), rvals,
                    qw, rqw, mode)
                win = win.sort_values(
                    ["score", "doc_id"], ascending=[False, True],
                    kind="mergesort")
                cur = pd.concat([win, rest], ignore_index=True)
            page = cur.iloc[frm:frm + k]
            return _topk_df(ctx.spark, page, k)
        # distributed: window = TakeOrderedAndProject; the rescore
        # clause frame is its own match set (never corpus-sized),
        # joined to the <= window_size-row window
        cur = _clause_df(ctx, body["query"])
        for i, (w, rq, qw, rqw, mode) in enumerate(rescores):
            win = (cur.orderBy(F.desc("score"), F.asc("doc_id"))
                   .limit(w))
            rf = (_clause_df(ctx, rq)
                  .withColumnRenamed("score", "_rscore"))
            joined = win.join(rf, "doc_id", "left")
            b = F.lit(qw) * F.col("score")
            r = F.lit(rqw) * F.col("_rscore")
            if mode == "total":
                comb = b + r
            elif mode == "multiply":
                comb = b * r
            elif mode == "avg":
                comb = (b + r) / F.lit(2.0)
            elif mode == "max":
                comb = F.greatest(b, r)
            else:
                comb = F.least(b, r)
            cur = joined.select(
                "doc_id",
                F.when(F.col("_rscore").isNull(), b)
                .otherwise(comb).alias("score"))
        topk = cur.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.offset(frm).limit(k) if frm else topk.limit(k)
    sort = _sort_parts(body)
    if sort is not None:
        # field sorting (ES top-level `sort`): order hits by docs-table
        # columns / _score / _doc instead of pure relevance. Always
        # distributed — sort keys are forward-table columns of the
        # whole match set. One docs join pruned to (doc_id, fields) +
        # TakeOrderedAndProject; missing values sort last (ES default).
        if after is not None:
            raise ESQueryError(
                "search_after with a custom sort is unsupported — the "
                "cursor here is the default [last_score, last_doc_id]")
        if body.get("collapse") is not None:
            raise ESQueryError("collapse with sort is unsupported")
        fields = [f for f, _ in sort if f not in ("_score", "_doc")]
        reader = next(iter(ctx.readers.values()))
        missing = sorted(set(fields) - set(reader.docs.columns))
        if missing:
            raise ESQueryError(
                f"sort fields not in docs table: {missing}")
        scored = _clause_df(ctx, body["query"])
        if ms is not None:
            scored = scored.where(F.col("score") >= F.lit(ms))
        if fields:
            scored = scored.join(reader.docs.select("doc_id", *fields),
                                 "doc_id", "left")
        topk = (scored.orderBy(*_sort_order_cols(sort))
                .select("doc_id", "score"))
        return topk.offset(frm).limit(k) if frm else topk.limit(k)
    collapse = body.get("collapse")
    if collapse is not None:
        # field collapsing (ES `collapse`): best hit per docs-field
        # group. Always distributed — the group key is a forward-table
        # column of the whole match set, which the serving tier's
        # postings budgets don't cover. One docs join pruned to
        # (doc_id, field) + one window shuffle on the field.
        if not isinstance(collapse, dict) or "field" not in collapse:
            raise ESQueryError("collapse needs 'field'")
        if after is not None:
            raise ESQueryError(
                "collapse with search_after is unsupported (ES rejects "
                "the combination too)")
        field = str(collapse["field"])
        reader = next(iter(ctx.readers.values()))
        if field not in reader.docs.columns:
            raise ESQueryError(
                f"collapse field {field!r} not in docs table "
                f"{sorted(reader.docs.columns)}")
        from pyspark.sql import Window

        scored = _clause_df(ctx, body["query"])
        if ms is not None:
            scored = scored.where(F.col("score") >= F.lit(ms))
        joined = scored.join(reader.docs.select("doc_id", field),
                             "doc_id", "left")
        w = Window.partitionBy(field).orderBy(
            F.desc("score"), F.asc("doc_id"))
        best = (joined.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).select("doc_id", "score"))
        topk = best.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.offset(frm).limit(k) if frm else topk.limit(k)
    local = _clause_pd(ctx, body["query"])
    if local is not None:
        if ms is not None:
            local = local[local["score"].to_numpy(np.float64) >= ms]
        if after is not None:
            s, d = after
            sc = local["score"].to_numpy(np.float64)
            di = local["doc_id"].to_numpy(np.int64)
            local = local[(sc < s) | ((sc == s) & (di > d))]
        ordered = local.sort_values(
            ["score", "doc_id"], ascending=[False, True],
            kind="mergesort")[frm:frm + k]
        return _topk_df(ctx.spark, ordered, k)
    scored = _clause_df(ctx, body["query"])
    if ms is not None:
        scored = scored.where(F.col("score") >= F.lit(ms))
    if after is not None:
        s, d = after
        scored = scored.filter(
            (F.col("score") < F.lit(s))
            | ((F.col("score") == F.lit(s))
               & (F.col("doc_id") > F.lit(d))))
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.offset(frm).limit(k) if frm else topk.limit(k)


def _expand_body_qs(body: dict, label: str = "body") -> dict:
    """Rewrite query_string / simple_query_string nodes ANYWHERE in the
    body (the main query, rescore queries, filters-agg clauses, ...)
    into the JSON DSL before dispatch, so the text syntaxes inherit the
    serving/distributed duality and the exact scored primitives of
    every other clause. The walk only touches single-key
    {"query_string": ...} / {"simple_query_string": ...} dict nodes.
    Parse errors surface as ESQueryError."""
    from .querystring import _QSError, expand_query_strings

    try:
        expanded = expand_query_strings(body)
    except _QSError as e:
        raise ESQueryError(f"{label}: {e}") from None
    return body if expanded == body else expanded


def es_search(index, body: dict, k1: float | None = None,
              b: float | None = None) -> DataFrame:
    """Execute an ES query body against an IndexReader or
    MultiFieldReader. Returns (doc_id, score[, _source cols
    [, highlight]]) ordered by (score desc, doc_id asc), paginated by
    ``from``/``size`` (ES defaults 0/10) or by a ``search_after``
    cursor. Budget-sized bodies run with zero Spark jobs (see module
    doc)."""
    body = _expand_body_qs(body)
    ctx = _Ctx(index, k1, b)
    topk = _eval_body(ctx, body)
    source = list(body.get("_source") or [])
    hl = body.get("highlight")
    hl_field = None
    if hl:
        fields = list((hl.get("fields") or {}))
        if len(fields) != 1:
            raise ESQueryError("highlight needs exactly one field")
        hl_field = fields[0]
        if "query" not in body:
            raise ESQueryError(
                "highlight needs a 'query' (knn-only bodies have no "
                "query text to highlight)")
        if hl_field not in source:
            source = source + [hl_field]
    if not source:
        return topk
    docs = next(iter(ctx.readers.values())).docs
    missing = sorted(set(source) - set(docs.columns))
    if missing:
        raise ESQueryError(f"_source fields not in docs table: {missing}")
    # a custom field sort must survive the _source re-join: carry its
    # (hidden) sort fields through and re-apply the same order
    sort = _sort_parts(body)
    hidden = [] if sort is None else [
        f for f, _ in sort
        if f not in ("_score", "_doc") and f not in source]
    out = (docs.select("doc_id", *source, *hidden)
           .join(F.broadcast(topk), "doc_id")
           .select("doc_id", "score", *source, *hidden))
    if hl_field:
        from .retrieval_extras import with_highlights

        opts = hl["fields"][hl_field] or {}
        out = with_highlights(
            out, " ".join(_collect_query_strings(body["query"])),
            text_col=hl_field,
            width=int(opts.get("fragment_size", 120)) // 2,
            max_fragments=int(opts.get("number_of_fragments", 1)))
    if sort is not None:
        return out.orderBy(*_sort_order_cols(sort)).drop(*hidden)
    return out.orderBy(F.desc("score"), F.asc("doc_id"))


def reference_search_body(query: str, fields: dict[str, float] | None = None,
                          size: int = 10) -> dict:
    """The reference's exact enhanced search body
    (retrieval/es_search_final.py:13-37), parameterized by field boosts
    (its ``chunk_text^3, title^2, authors`` — default: the transcript
    text field at boost 3): best_fields multi_match with fuzziness AUTO
    + phrase multi_match at boost 2.0, minimum_should_match=1."""
    fields = fields or {"text": 3.0}
    specs = [f"{f}^{w:g}" if w != 1.0 else f
             for f, w in sorted(fields.items())]
    flat = [f for f, _ in (_field_boost(s) for s in specs)]
    return {
        "query": {
            "bool": {
                "should": [
                    {"multi_match": {"query": query, "fields": specs,
                                     "type": "best_fields",
                                     "fuzziness": "AUTO"}},
                    {"multi_match": {"query": query, "fields": flat,
                                     "type": "phrase", "boost": 2.0}},
                ],
                "minimum_should_match": 1,
            }
        },
        "size": int(size),
    }


# ---------------------------------------------------------------------------
# Aggregations (the other half of the ES surface)
# ---------------------------------------------------------------------------

_METRIC_FNS = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
               "value_count": F.count}

# bucket-agg kinds that can nest inside each other (range buckets can
# overlap, so range stays single-level by construction)
_BUCKET_TYPES = frozenset({"terms", "multi_terms", "date_histogram",
                           "histogram"})

# pipeline aggs: parent kinds nest INSIDE a bucket agg and emit one
# value (or a reorder/filter) per bucket; sibling kinds sit NEXT TO the
# bucket agg at the top level and reduce its buckets to scalars
_PARENT_PIPE = frozenset({"derivative", "cumulative_sum", "moving_fn",
                          "serial_diff", "bucket_script",
                          "bucket_selector", "bucket_sort"})

# moving_fn whitelisted window functions (ES MovingFunctions.* — the
# script is a fixed call form, ast-free: no string eval anywhere)
_MOVING_FNS = {"max": F.max, "min": F.min, "sum": F.sum,
               "unweightedAvg": F.avg, "stdDev": F.stddev_pop}
_SIBLING_PIPE = {"avg_bucket": F.avg, "sum_bucket": F.sum,
                 "min_bucket": F.min, "max_bucket": F.max,
                 "stats_bucket": None}

# ES percentiles default percents (tdigest agg docs)
_PCT_DEFAULT = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)


def _pct_alias(name: str, p: float) -> str:
    return f"{name}_{('%g' % p).replace('.', '_')}"


def _metric_cols(name: str, spec: dict) -> list:
    """Aggregate columns for one ES metric sub-agg. Most metrics yield
    one column aliased ``name``; ``percentiles`` yields one per percent
    (``name_50`` …) and ``stats`` its five ES keys (``name_count`` …).

    Approximation policy (the 10^12-row knob): ``cardinality`` and
    ``percentiles`` are EXACT by default — deterministic and
    driver-hash-checkable, and a strict superset of ES's guarantee (ES
    is only exact below ``precision_threshold`` / tdigest resolution).
    Passing ``"approximate": true`` in the agg args switches to the
    sketch path Spark already ships JVM-side: ``approx_count_distinct``
    IS HyperLogLog++ (the exact algorithm ES cardinality uses), with
    rsd derived from ``precision_threshold`` (default 3000 →
    rsd ≈ 1.04/√3000 ≈ 0.019); ``percentile_approx`` is the
    positional-sketch analog of ES's tdigest, accuracy =
    100 × tdigest ``compression`` (default 100 → 10000, Spark's own
    default). At terabyte column cardinalities the sketches aggregate
    in fixed memory per group where exact distinct/percentile would
    shuffle the full column — same trade ES makes, here opt-in."""
    if len(spec) != 1:
        raise ESQueryError(f"metric agg {name!r} must have one function")
    [(fn, args)] = spec.items()
    field = args.get("field") if isinstance(args, dict) else None
    if not field and fn != "weighted_avg":
        raise ESQueryError(f"metric agg {name!r} lacks 'field'")
    if fn in _METRIC_FNS:
        return [_METRIC_FNS[fn](F.col(field)).alias(name)]
    if fn == "cardinality":
        if args.get("approximate"):
            import math

            thr = max(int(args.get("precision_threshold", 3000)), 16)
            rsd = min(0.05, 1.04 / math.sqrt(thr))
            return [F.approx_count_distinct(field, rsd).alias(name)]
        return [F.count_distinct(F.col(field)).alias(name)]
    if fn == "percentiles":
        pcts = [float(p) for p in args.get("percents", _PCT_DEFAULT)]
        if not pcts or not all(0.0 <= p <= 100.0 for p in pcts):
            raise ESQueryError(f"percentiles {name!r}: bad percents")
        if args.get("approximate") or "tdigest" in args:
            acc = int((args.get("tdigest") or {}).get(
                "compression", 100)) * 100
            return [F.percentile_approx(field, p / 100.0, acc)
                    .alias(_pct_alias(name, p)) for p in pcts]
        return [F.percentile(field, p / 100.0).alias(_pct_alias(name, p))
                for p in pcts]
    if fn == "percentile_ranks":
        # ES percentile_ranks: for each given value v, the percentage
        # of observed values <= v. tdigest-approximate in ES; EXACT
        # here (one avg of a boolean per value — rides the same
        # groupBy), the same determinism policy as percentiles.
        vals = args.get("values")
        if (not vals or not isinstance(vals, (list, tuple))
                or not all(isinstance(v, (int, float)) for v in vals)):
            raise ESQueryError(
                f"percentile_ranks {name!r} needs a numeric 'values' "
                "list")
        c = F.col(field).cast("double")
        return [(F.lit(100.0)
                 * F.avg((c <= F.lit(float(v))).cast("double")))
                .alias(_pct_alias(name, float(v))) for v in vals]
    if fn == "stats":
        c = F.col(field)
        return [F.count(c).alias(f"{name}_count"),
                F.min(c).alias(f"{name}_min"),
                F.max(c).alias(f"{name}_max"),
                F.avg(c).alias(f"{name}_avg"),
                F.sum(c).alias(f"{name}_sum")]
    if fn == "extended_stats":
        # ES extended_stats: the five stats keys + sum_of_squares,
        # variance, std_deviation — POPULATION moments, ES's default
        # (its `variance` key is variance_population). All one-pass
        # aggregates, so they ride the same single groupBy.
        c = F.col(field).cast("double")
        return [F.count(c).alias(f"{name}_count"),
                F.min(c).alias(f"{name}_min"),
                F.max(c).alias(f"{name}_max"),
                F.avg(c).alias(f"{name}_avg"),
                F.sum(c).alias(f"{name}_sum"),
                F.sum(c * c).alias(f"{name}_sum_of_squares"),
                F.var_pop(c).alias(f"{name}_variance"),
                F.stddev_pop(c).alias(f"{name}_std_deviation")]
    if fn == "weighted_avg":
        # ES weighted_avg: {value: {field}, weight: {field}} —
        # Σ(v·w)/Σ(w), nulls in either column drop the row (ES skips
        # docs missing the value; a missing weight defaults to 1 only
        # when `weight.missing` says so — we require both present).
        vf = (args.get("value") or {}).get("field")
        wf = (args.get("weight") or {}).get("field")
        if not vf or not wf:
            raise ESQueryError(
                f"weighted_avg {name!r} needs value.field + weight.field")
        v = F.col(vf).cast("double")
        w = F.col(wf).cast("double")
        ok = v.isNotNull() & w.isNotNull()
        return [(F.sum(F.when(ok, v * w)) / F.sum(F.when(ok, w)))
                .alias(name)]
    raise ESQueryError(
        f"unsupported metric {fn!r} (have {sorted(_METRIC_FNS)} + "
        "cardinality, percentiles, percentile_ranks, stats, "
        "extended_stats, weighted_avg, median_absolute_deviation; "
        "top_hits nests only inside a single-level bucket agg)")


def es_aggregations(index, body: dict, k1: float | None = None,
                    b: float | None = None) -> DataFrame:
    """ES aggregations over the docs matching ``body["query"]``
    (match_all when omitted): ONE top-level ``terms`` /
    ``date_histogram`` / metric agg, with either metric sub-aggs or a
    CHAIN of nested bucket aggs at arbitrary depth (buckets-in-buckets,
    optionally carrying leaf metrics), each terms level honoring its
    own ``size`` with faithful per-level ES ordering — the reference's
    ES exposes this surface; its code never uses it, but a
    transcript-analytics user will.

    Pipeline aggregations (single-level bucket aggs): PARENT pipelines
    nest inside the bucket agg — ``derivative`` / ``cumulative_sum``
    (ordered histogram parents only, like ES), ``bucket_script`` /
    ``bucket_selector`` (scripts are ast-compiled arithmetic over
    ``params.<var>``, no string eval), ``bucket_sort`` (re-order +
    from/size truncation) — applied in declaration order as window/
    filter ops over the post-groupBy bucket frame (cardinality = the
    bucket count, never the corpus). SIBLING pipelines (``avg_bucket``
    ``sum_bucket`` ``min_bucket`` ``max_bucket`` ``stats_bucket``) sit
    next to the bucket agg in ``aggs`` with ``buckets_path``
    ``"<bucket>>metric"`` and attach as constant columns on every
    bucket row (ES returns them as top-level scalars; a DataFrame
    carries them alongside), resolved against the FINAL frame — after
    parent pipelines, selector, and sort truncation.

    Bucket-shape options: ``range`` / ``date_range`` ([from, to),
    overlap allowed, empty buckets doc_count 0; date edges as ISO
    strings or epoch millis with verbatim keys), terms ``missing``
    (nulls bucket under the substitute), histogram / date_histogram
    ``min_doc_count`` (>1 filters; 0 returns the dense empty-bucket
    ladder of the span — driver-built, capped at ES's 65536
    max_buckets — which is what derivative/moving_fn expect to slide
    over) and numeric-histogram ``extended_bounds``. The engine
    DEFAULT stays min_doc_count 1 (sparse), a documented deviation
    from ES's dense histogram default. Docs with a null bucket field
    drop from date/numeric histogram buckets (ES semantics).

    Spark-first: the match set (doc_ids only, never scores into the
    agg) left-semi-joins the forward docs table and the buckets are one
    ``groupBy`` — aggregation over matching docs is exactly the shape
    Catalyst optimizes best, and unlike ES's coordinating-node bucket
    merge there is no ``size``-based bucket truncation error: results
    are exact. Returns a DataFrame (terms: key, doc_count, <sub-aggs>,
    ordered by doc_count desc then key; date_histogram: key ascending;
    bare metric: one row)."""
    body = _expand_body_qs(body)
    aggs = body.get("aggs") or body.get("aggregations")
    if not aggs:
        raise ESQueryError("need exactly one top-level agg in 'aggs'")
    siblings = {n: s for n, s in aggs.items()
                if isinstance(s, dict) and len(s) == 1
                and next(iter(s)) in _SIBLING_PIPE}
    aggs = {n: s for n, s in aggs.items() if n not in siblings}
    if len(aggs) != 1:
        raise ESQueryError(
            "need exactly one top-level agg in 'aggs' (plus optional "
            "sibling pipeline aggs)")
    ctx = _Ctx(index, k1, b)
    reader = next(iter(ctx.readers.values()))
    query = body.get("query", {"match_all": {}})
    [(kind, _)] = query.items()
    if kind == "match_all":
        matched_scores = None
        matched = reader.live_only(reader.docs.select("doc_id"))
    else:
        matched_scores = _clause_df(ctx, query).select("doc_id", "score")
        matched = matched_scores.select("doc_id")
    docs = reader.docs.join(matched, "doc_id", "left_semi")

    [(name, spec)] = aggs.items()
    spec = dict(spec)  # never mutate the caller's body
    sub = spec.pop("aggs", None)
    [(atype, args)] = spec.items()
    pipes = {n: s for n, s in (sub or {}).items()
             if isinstance(s, dict) and len(s) == 1
             and next(iter(s)) in _PARENT_PIPE}
    nested = {n: s for n, s in (sub or {}).items()
              if set(dict(s)) - {"aggs"} & _BUCKET_TYPES}
    if nested and (pipes or siblings):
        raise ESQueryError(
            "pipeline aggs compose with single-level bucket aggs only")
    if nested:
        # A CHAIN of nested bucket aggs at arbitrary depth (ES
        # buckets-in-buckets-in-buckets...), flattened Spark-first:
        # every level's key expr in ONE groupBy — one shuffle for the
        # whole tree, leaf metric sub-aggs ride along. Output rows are
        # the LEAF buckets as (key, key2, ..., doc_count, <metrics>) in
        # faithful ES traversal order: at each terms level, buckets by
        # that level's doc_count desc then key asc (date_histogram
        # levels: key asc), children ordered within their parent.
        # Per-level ``size`` keeps the top-``size`` buckets per parent
        # (ES truncation) — counts stay exact (computed before the cut,
        # no coordinating-node merge error). The per-level windows
        # partition by the groupBy's own prefix keys and run over the
        # already-aggregated bucket rows (cardinality = product of key
        # cardinalities, not the corpus), so the one corpus-sized
        # shuffle remains the groupBy.
        chain = [(atype, dict(args))]
        cur_sub, leaf_metrics = sub, {}
        while True:
            bucket = {n: s for n, s in (cur_sub or {}).items()
                      if set(dict(s)) - {"aggs"} & _BUCKET_TYPES}
            if not bucket:
                leaf_metrics = dict(cur_sub or {})
                break
            if len(bucket) != 1 or len(cur_sub) != len(bucket):
                raise ESQueryError(
                    "at most one nested bucket agg (optionally with its "
                    "own metric sub-aggs) is supported inside a bucket "
                    "agg")
            if chain[-1][0] not in _BUCKET_TYPES:
                raise ESQueryError("only bucket aggs can nest bucket "
                                   "aggs")
            [(_, inner_spec)] = bucket.items()
            inner_spec = dict(inner_spec)
            cur_sub = inner_spec.pop("aggs", None)
            [(in_type, in_args)] = inner_spec.items()
            chain.append((in_type, dict(in_args)))
        if chain[-1][0] not in _BUCKET_TYPES:
            raise ESQueryError("only bucket aggs can nest bucket aggs")

        from pyspark.sql import Window

        aliases = ["key"] + [f"key{i + 1}" for i in range(1, len(chain))]
        for t, a in chain:
            if "min_doc_count" in a or "extended_bounds" in a:
                # the dense-ladder/filter machinery is single-level
                # (_hist_mdc); silently ignoring it here would return
                # sparse buckets a caller asked to be dense
                raise ESQueryError(
                    "min_doc_count / extended_bounds are not supported "
                    "inside a nested bucket chain (single-level "
                    "histogram / date_histogram only)")
        keys = [_bucket_key(t, a, al)
                for (t, a), al in zip(chain, aliases)]
        if any("top_hits" in dict(s) for s in leaf_metrics.values()):
            raise ESQueryError("top_hits nests only inside a "
                               "single-level bucket agg")
        subcols = [c for n, s in leaf_metrics.items()
                   for c in _metric_cols(n, s)]
        flat = docs.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("doc_count"), *subcols)
        order_cols, cnt_cols = [], []
        for i, (btype, bargs) in enumerate(chain):
            if i == len(chain) - 1:
                cnt = F.col("doc_count")
            else:
                # level-i bucket count = Σ leaf counts under its key
                # prefix, window-summed over the small bucket frame
                cname = f"_cnt{i}"
                flat = flat.withColumn(cname, F.sum("doc_count").over(
                    Window.partitionBy(*aliases[:i + 1])))
                cnt_cols.append(cname)
                cnt = F.col(cname)
            if btype in ("terms", "multi_terms"):
                order_cols += [cnt.desc(), F.asc(aliases[i])]
            else:
                order_cols += [F.asc(aliases[i])]
        for i, (btype, bargs) in enumerate(chain):
            if (btype not in ("terms", "multi_terms")
                    or bargs.get("size") is None):
                continue
            # ES per-level truncation: top-size buckets by (count desc,
            # key asc) WITHIN the parent bucket; dropped parents drop
            # their whole subtree (their leaf rows carry the parent key)
            cnt = (F.col("doc_count") if i == len(chain) - 1
                   else F.col(f"_cnt{i}"))
            w = Window.partitionBy(*aliases[:i]).orderBy(
                cnt.desc(), F.asc(aliases[i]))
            flat = (flat.withColumn("_rk", F.dense_rank().over(w))
                    .filter(F.col("_rk") <= int(bargs["size"]))
                    .drop("_rk"))
        return flat.orderBy(*order_cols).drop(*cnt_cols)
    hits_specs = {n: dict(s)["top_hits"] for n, s in (sub or {}).items()
                  if "top_hits" in dict(s)}
    metric_sub = {n: s for n, s in (sub or {}).items()
                  if "top_hits" not in dict(s) and n not in pipes}
    # median_absolute_deviation can't be one aggregate column (the
    # inner per-group median must exist before the outer median of
    # absolute deviations), so it is split out and computed as a second
    # groupBy over the SAME match set joined back on the bucket key —
    # two shuffles of the match set, still never corpus-wide. EXACT
    # (F.percentile), per the cardinality/percentiles approximation
    # policy: ES's own MAD is tdigest-approximate, ours is a strict
    # superset of that guarantee.
    mads = {n: dict(s)["median_absolute_deviation"]
            for n, s in metric_sub.items()
            if "median_absolute_deviation" in dict(s)}
    metric_sub = {n: s for n, s in metric_sub.items() if n not in mads}
    if mads and (pipes or siblings or hits_specs):
        raise ESQueryError(
            "median_absolute_deviation does not compose with pipeline "
            "aggs or top_hits")
    if mads and atype not in ("terms", "multi_terms", "histogram",
                              "date_histogram"):
        raise ESQueryError(
            "median_absolute_deviation nests inside terms / multi_terms "
            "/ histogram / date_histogram bucket aggs (or stands alone) "
            "only")
    for n, margs in mads.items():
        if not (isinstance(margs, dict) and margs.get("field")):
            raise ESQueryError(f"metric agg {n!r} lacks 'field'")
    if (pipes or siblings) and atype not in _BUCKET_TYPES:
        raise ESQueryError(
            "pipeline aggs need a terms / histogram / date_histogram "
            "bucket agg")
    if (pipes or siblings) and hits_specs:
        raise ESQueryError("pipeline aggs do not compose with top_hits")
    if hits_specs and atype not in ("terms", "multi_terms",
                                    "date_histogram", "histogram"):
        raise ESQueryError("top_hits nests only inside a bucket agg")
    if len(hits_specs) > 1:
        raise ESQueryError("at most one top_hits sub-agg per bucket agg")
    subcols = [c for n, s in metric_sub.items() for c in _metric_cols(n, s)]
    if atype in ("terms", "multi_terms"):
        out = (docs.groupBy(_bucket_key(atype, args, "key"))
               .agg(F.count(F.lit(1)).alias("doc_count"), *subcols)
               .where(F.col("key").isNotNull())
               .orderBy(F.desc("doc_count"), F.asc("key")))
        if "size" in args:
            out = out.limit(int(args["size"]))
    elif atype == "rare_terms":
        # ES rare_terms: the long tail — buckets whose doc_count is at
        # most max_doc_count, ordered doc_count ASC then key. ES's is
        # CuckooFilter-approximate (may miss rare terms); ours is EXACT
        # (same one groupBy as terms + a bucket-frame filter), a strict
        # superset of its guarantee — consistent with the cardinality /
        # percentiles approximation policy. No size/pipes/top_hits,
        # like ES.
        if hits_specs:
            raise ESQueryError("top_hits is not supported inside "
                               "rare_terms")
        maxdc = int(args.get("max_doc_count", 1))
        if not 1 <= maxdc <= 100:
            raise ESQueryError("rare_terms max_doc_count must be in "
                               "[1, 100] (ES bound)")
        return (docs.groupBy(_bucket_key("terms", args, "key"))
                .agg(F.count(F.lit(1)).alias("doc_count"), *subcols)
                .where(F.col("key").isNotNull()
                       & (F.col("doc_count") <= maxdc))
                .orderBy(F.asc("doc_count"), F.asc("key")))
    elif atype in ("date_histogram", "histogram"):
        # docs with a null field don't bucket (ES drops missing-field
        # docs from histograms; pair with a `missing` agg to count them)
        out = (docs.groupBy(_bucket_key(atype, args, "key"))
               .agg(F.count(F.lit(1)).alias("doc_count"), *subcols)
               .where(F.col("key").isNotNull())
               .orderBy(F.asc("key")))
        out = _hist_mdc(out, atype, args)
    elif atype == "auto_date_histogram":
        if hits_specs or pipes or siblings:
            raise ESQueryError(
                "auto_date_histogram composes with metric sub-aggs "
                "only (no top_hits / pipelines)")
        return _auto_date_histogram(docs, args, subcols)
    elif atype in ("range", "date_range"):
        if hits_specs:
            raise ESQueryError(
                f"top_hits is not supported inside {atype}")
        return _range_agg(docs, args, metric_sub,
                          date=atype == "date_range")
    elif atype == "composite":
        if hits_specs:
            raise ESQueryError("top_hits is not supported inside "
                               "composite")
        return _composite_agg(docs, args, metric_sub)
    elif atype == "filters":
        # ES filters agg: NAMED query-clause buckets over the outer
        # match set. Each filter is a full DSL clause evaluated in
        # filter context (score discarded), its bucket = |outer match ∩
        # filter match|. Buckets may overlap (a doc can satisfy many
        # filters) and empty buckets return 0 — like range, one leg per
        # named filter (user-written, small), each an intersection of
        # doc_id sets + one global agg; legs union in name order.
        if hits_specs:
            raise ESQueryError("top_hits is not supported inside "
                               "filters")
        named = args.get("filters")
        if not named or not isinstance(named, dict):
            raise ESQueryError("filters needs a {name: clause} dict")
        frames = []
        for i, (fname, clause) in enumerate(sorted(named.items())):
            fdocs = docs.join(
                _clause_df(ctx, clause).select("doc_id"),
                "doc_id", "left_semi")
            subcols = [c for n, s in metric_sub.items()
                       for c in _metric_cols(n, s)]
            frames.append(
                fdocs.agg(F.count(F.lit(1)).alias("doc_count"), *subcols)
                .select(F.lit(fname).alias("key"), "*"))
        return reduce(DataFrame.unionByName, frames)
    elif atype == "adjacency_matrix":
        # ES adjacency_matrix: one bucket per named filter plus one per
        # PAIRWISE intersection (key "a&b", names in sorted order),
        # empty buckets omitted. Each named clause is evaluated ONCE
        # (its doc_id set is a DataFrame reused across legs); the
        # n·(n+1)/2 legs are intersections of doc_id sets + one global
        # agg each — n is the user-written filter count (ES caps at
        # 100), so the leg count is tiny and each leg never touches
        # more than the outer match set.
        if hits_specs:
            raise ESQueryError("top_hits is not supported inside "
                               "adjacency_matrix")
        named = args.get("filters")
        if not named or not isinstance(named, dict):
            raise ESQueryError(
                "adjacency_matrix needs a {name: clause} dict")
        sep = str(args.get("separator", "&"))
        names = sorted(named)
        sets = {n: docs.join(_clause_df(ctx, named[n]).select("doc_id"),
                             "doc_id", "left_semi") for n in names}
        frames = []
        for i, n1 in enumerate(names):
            for key, leg in (
                    [(n1, sets[n1])]
                    + [(f"{n1}{sep}{n2}",
                        sets[n1].join(sets[n2].select("doc_id"),
                                      "doc_id", "left_semi"))
                       for n2 in names[i + 1:]]):
                cols = [c for n, s in metric_sub.items()
                        for c in _metric_cols(n, s)]
                frames.append(
                    leg.agg(F.count(F.lit(1)).alias("doc_count"), *cols)
                    .select(F.lit(key).alias("key"), "*"))
        return (reduce(DataFrame.unionByName, frames)
                .where(F.col("doc_count") > 0).orderBy(F.asc("key")))
    elif atype == "filter":
        # ES filter agg (singular): ONE unnamed sub-filter bucket over
        # the outer match set — the anonymous sibling of `filters`
        if not isinstance(args, dict) or len(args) != 1:
            raise ESQueryError("filter agg takes exactly one clause")
        fdocs = docs.join(_clause_df(ctx, args).select("doc_id"),
                          "doc_id", "left_semi")
        return fdocs.agg(F.count(F.lit(1)).alias("doc_count"), *subcols)
    elif atype == "missing":
        # ES missing agg: docs of the match set whose field is null
        field = (args or {}).get("field")
        if not field:
            raise ESQueryError("missing agg needs 'field'")
        if field not in docs.columns:
            raise ESQueryError(
                f"missing field {field!r} not in docs table "
                f"{sorted(docs.columns)}")
        return (docs.filter(F.col(field).isNull())
                .agg(F.count(F.lit(1)).alias("doc_count"), *subcols))
    elif atype == "global":
        # ES global agg: ignore the query — the whole live corpus
        gdocs = reader.live_only(reader.docs)
        return gdocs.agg(F.count(F.lit(1)).alias("doc_count"), *subcols)
    elif atype in ("sampler", "diversified_sampler"):
        # ES sampler / diversified_sampler: sub-aggs over the top
        # shard_size best-scoring matched docs (diversified first caps
        # each distinct field value at max_docs_per_value). ES's is
        # per-shard and order-approximate; ours is the deterministic
        # global equivalent of one logical shard — top-n by (score
        # desc, doc_id asc), exact and reproducible. One bucket row,
        # like `filter`. Scale: the sample is one
        # TakeOrderedAndProject over the match frame (diversified adds
        # one window shuffle on the field), never corpus-sized.
        if matched_scores is None:
            raise ESQueryError(
                f"{atype} needs a scoring query — under match_all "
                "there is no score to sample by")
        n = int((args or {}).get("shard_size", 100))
        if n <= 0:
            raise ESQueryError(f"{atype} shard_size must be > 0")
        ranked = matched_scores
        if atype == "diversified_sampler":
            from pyspark.sql import Window

            field = (args or {}).get("field")
            if not field:
                raise ESQueryError("diversified_sampler needs 'field'")
            if field not in docs.columns:
                raise ESQueryError(
                    f"diversified_sampler field {field!r} not in docs "
                    f"table {sorted(docs.columns)}")
            mpv = int(args.get("max_docs_per_value", 1))
            if mpv <= 0:
                raise ESQueryError("max_docs_per_value must be > 0")
            w = Window.partitionBy(field).orderBy(
                F.desc("score"), F.asc("doc_id"))
            ranked = (matched_scores
                      .join(reader.docs.select("doc_id", field),
                            "doc_id", "left")
                      .withColumn("_rn", F.row_number().over(w))
                      .filter(F.col("_rn") <= mpv))
        top = (ranked.orderBy(F.desc("score"), F.asc("doc_id"))
               .limit(n).select("doc_id"))
        sdocs = docs.join(top, "doc_id", "left_semi")
        return sdocs.agg(F.count(F.lit(1)).alias("doc_count"), *subcols)
    elif atype == "significant_terms":
        if sub:
            raise ESQueryError("significant_terms takes no sub-aggs")
        if kind == "match_all":
            raise ESQueryError(
                "significant_terms needs a foreground query — under "
                "match_all the foreground IS the background")
        return _significant_terms(reader, docs, args)
    else:
        # bare metric agg: one row
        if atype == "median_absolute_deviation":
            fld = (args or {}).get("field")
            if not fld:
                raise ESQueryError(f"metric agg {name!r} lacks 'field'")
            c = F.col(fld).cast("double")
            med = (docs.agg(F.percentile(c, 0.5).alias("_med"))
                   .withColumn("_j", F.lit(1)))
            return (docs.withColumn("_j", F.lit(1))
                    .join(F.broadcast(med), "_j")
                    .agg(F.percentile(F.abs(c - F.col("_med")), 0.5)
                         .alias(name)))
        return docs.agg(*_metric_cols(name, {atype: args}))
    if mads:
        kcol = _bucket_key(atype, args, "key")
        meds = docs.groupBy(kcol).agg(*[
            F.percentile(F.col(a["field"]).cast("double"), 0.5)
            .alias(f"_med_{n}") for n, a in mads.items()])
        mad = (docs.withColumn("key", kcol).join(meds, "key")
               .groupBy("key").agg(*[
                   F.percentile(F.abs(F.col(a["field"]).cast("double")
                                      - F.col(f"_med_{n}")), 0.5)
                   .alias(n) for n, a in mads.items()]))
        out = out.join(mad, "key", "left")
        out = (out.orderBy(F.desc("doc_count"), F.asc("key"))
               if atype in ("terms", "multi_terms")
               else out.orderBy(F.asc("key")))
    if pipes or siblings:
        known = set(metric_sub)
        sort_cols = None
        if pipes:
            out, sort_cols = _apply_parent_pipes(out, pipes, atype,
                                                 known)
            known |= {n for n, s in pipes.items()
                      if next(iter(dict(s))) not in ("bucket_sort",
                                                     "bucket_selector")}
        if siblings:
            out = _apply_sibling_pipes(out, siblings, name, known)
        # re-assert the bucket ordering: the sibling crossJoin (and
        # selector filters) give no order guarantee on their own
        if sort_cols is None:
            sort_cols = ([F.desc("doc_count"), F.asc("key")]
                         if atype in ("terms", "multi_terms")
                         else [F.asc("key")])
        return out.orderBy(*sort_cols)
    if not hits_specs:
        return out
    [(_, hspec)] = hits_specs.items()
    hits = _top_hits_df(docs, _bucket_key(atype, args, "key"), hspec,
                        scored_match=matched_scores)
    # flatten ES's buckets-with-hits: one row per (bucket, hit), bucket
    # columns repeated — buckets keep their order, hits theirs within
    order = ([F.desc("doc_count"), F.asc("key")]
             if atype in ("terms", "multi_terms") else [F.asc("key")])
    return (out.join(hits, "key").orderBy(*order, F.asc("hit_rank")))


def _pipe_src(path, known: set[str], label: str) -> str:
    """Resolve a parent-pipeline ``buckets_path`` to a bucket-frame
    column: ``_count`` -> doc_count, a metric/pipeline sub-agg name ->
    its column."""
    if not isinstance(path, str):
        raise ESQueryError(f"{label}: buckets_path must be a string")
    if path == "_count":
        return "doc_count"
    if path in known:
        return path
    raise ESQueryError(
        f"{label}: buckets_path {path!r} names no sibling metric "
        f"(known: {sorted(known)} and '_count')")


def _script_col(script: str, cols: dict[str, str], label: str):
    """Compile an ES pipeline script to a Spark Column. Scope: the
    arithmetic / comparison / boolean subset shared by painless and
    Python over ``params.<var>`` references (``&&``/``||`` accepted as
    spellings of and/or) — enough for every bucket_script /
    bucket_selector in the ES docs, with no string eval anywhere."""
    import ast

    src = script.replace("&&", " and ").replace("||", " or ")
    try:
        tree = ast.parse(src, mode="eval")
    except SyntaxError as e:
        raise ESQueryError(f"{label}: cannot parse script "
                           f"{script!r}: {e}") from None

    def ev(node):
        if isinstance(node, ast.Expression):
            return ev(node.body)
        if isinstance(node, ast.BinOp):
            lhs, rhs = ev(node.left), ev(node.right)
            if isinstance(node.op, ast.Add):
                return lhs + rhs
            if isinstance(node.op, ast.Sub):
                return lhs - rhs
            if isinstance(node.op, ast.Mult):
                return lhs * rhs
            if isinstance(node.op, ast.Div):
                return lhs / rhs
        if isinstance(node, ast.UnaryOp) and isinstance(node.op,
                                                        ast.USub):
            return -ev(node.operand)
        if isinstance(node, ast.UnaryOp) and isinstance(node.op,
                                                        ast.Not):
            return ~ev(node.operand)
        if isinstance(node, ast.Constant) and isinstance(
                node.value, (int, float)) and not isinstance(
                node.value, bool):
            return F.lit(float(node.value))
        if isinstance(node, ast.Attribute) and isinstance(
                node.value, ast.Name) and node.value.id == "params":
            if node.attr not in cols:
                raise ESQueryError(
                    f"{label}: script var params.{node.attr} not in "
                    f"buckets_path {sorted(cols)}")
            return F.col(cols[node.attr]).cast("double")
        if isinstance(node, ast.Compare) and len(node.ops) == 1:
            lhs, rhs = ev(node.left), ev(node.comparators[0])
            op = node.ops[0]
            if isinstance(op, ast.Gt):
                return lhs > rhs
            if isinstance(op, ast.GtE):
                return lhs >= rhs
            if isinstance(op, ast.Lt):
                return lhs < rhs
            if isinstance(op, ast.LtE):
                return lhs <= rhs
            if isinstance(op, ast.Eq):
                return lhs == rhs
            if isinstance(op, ast.NotEq):
                return lhs != rhs
        if isinstance(node, ast.BoolOp):
            parts = [ev(v) for v in node.values]
            if isinstance(node.op, ast.And):
                return reduce(lambda a_, b_: a_ & b_, parts)
            return reduce(lambda a_, b_: a_ | b_, parts)
        raise ESQueryError(
            f"{label}: unsupported script construct "
            f"{ast.dump(node)[:60]} in {script!r}")

    return ev(tree)


def _apply_parent_pipes(out: DataFrame, pipes: dict, atype: str,
                        metric_names: set[str]):
    """Parent pipeline aggs over the (small, post-groupBy) bucket
    frame, applied in declaration order so bucket_script columns are
    visible to a later bucket_selector. derivative / cumulative_sum
    require an ORDERED parent (histogram kinds), like ES; their window
    runs unpartitioned over the bucket frame — cardinality is the
    bucket count, not the corpus, the same posture as the nested-chain
    windows. bucket_sort re-orders and from/size-truncates at the end
    (it never changes bucket values, only which rows survive)."""
    from pyspark.sql import Window

    known = set(metric_names)
    final_sort = None  # bucket_sort's ordering, else the default
    w = Window.orderBy(F.asc("key"))
    for name, spec in pipes.items():
        [(ptype, args)] = dict(spec).items()
        if ptype in ("derivative", "cumulative_sum"):
            if atype not in ("date_histogram", "histogram"):
                raise ESQueryError(
                    f"{ptype} needs an ordered histogram parent (ES "
                    "rejects it under terms too)")
            src = F.col(_pipe_src(args.get("buckets_path"), known,
                                  name)).cast("double")
            if ptype == "derivative":
                out = out.withColumn(name, src - F.lag(src).over(w))
            else:
                out = out.withColumn(name, F.sum(src).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)))
            known.add(name)
        elif ptype in ("moving_fn", "serial_diff"):
            # ES moving_fn: a whitelisted MovingFunctions.* over the
            # `window` buckets BEFORE the current one (shift slides the
            # frame; shift=window is "trailing window including
            # current"). serial_diff: value - value[lag buckets back].
            # Both need an ordered histogram parent, like derivative;
            # leading buckets whose frame is empty yield null (ES
            # returns null/skips there too).
            if atype not in ("date_histogram", "histogram"):
                raise ESQueryError(
                    f"{ptype} needs an ordered histogram parent (ES "
                    "rejects it under terms too)")
            src = F.col(_pipe_src(args.get("buckets_path"), known,
                                  name)).cast("double")
            if ptype == "serial_diff":
                lag = int(args.get("lag", 1))
                if lag <= 0:
                    raise ESQueryError("serial_diff lag must be > 0")
                out = out.withColumn(name, src - F.lag(src, lag).over(w))
            else:
                import re as _re

                win = int(args.get("window", 5))
                if win <= 0:
                    raise ESQueryError("moving_fn window must be > 0")
                shift = int(args.get("shift", 0))
                script = str(args.get("script", "")).strip()
                m = _re.fullmatch(r"MovingFunctions\.(\w+)\(values\)",
                                  script)
                if not m or m.group(1) not in _MOVING_FNS:
                    raise ESQueryError(
                        f"moving_fn script must be one of "
                        f"MovingFunctions.{{{'|'.join(sorted(_MOVING_FNS))}}}"
                        f"(values), got {script!r}")
                frame = w.rowsBetween(-win + shift, -1 + shift)
                out = out.withColumn(
                    name, _MOVING_FNS[m.group(1)](src).over(frame))
            known.add(name)
        elif ptype == "bucket_script":
            paths = args.get("buckets_path")
            if not isinstance(paths, dict) or not paths:
                raise ESQueryError(f"{name}: bucket_script needs a "
                                   "{var: path} buckets_path dict")
            cols = {v: _pipe_src(p, known, name)
                    for v, p in paths.items()}
            out = out.withColumn(
                name, _script_col(str(args.get("script", "")), cols,
                                  name).cast("double"))
            known.add(name)
        elif ptype == "bucket_selector":
            paths = args.get("buckets_path")
            if not isinstance(paths, dict) or not paths:
                raise ESQueryError(f"{name}: bucket_selector needs a "
                                   "{var: path} buckets_path dict")
            cols = {v: _pipe_src(p, known, name)
                    for v, p in paths.items()}
            out = out.filter(_script_col(str(args.get("script", "")),
                                         cols, name))
        elif ptype == "bucket_sort":
            sort_cols = []
            for s in args.get("sort") or []:
                if isinstance(s, str):
                    s = {s: {"order": "asc"}}
                [(fld, so)] = s.items()
                fld = "doc_count" if fld == "_count" else fld
                order = (so or {}).get("order", "asc") \
                    if isinstance(so, dict) else str(so)
                sort_cols.append(F.desc(fld) if order == "desc"
                                 else F.asc(fld))
            if sort_cols:
                final_sort = sort_cols + [F.asc("key")]
                out = out.orderBy(*final_sort)
            frm = int(args.get("from", 0))
            if frm:
                out = out.offset(frm)
            if args.get("size") is not None:
                out = out.limit(int(args["size"]))
        else:
            raise ESQueryError(f"unknown pipeline agg {ptype!r}")
    return out, final_sort


def _apply_sibling_pipes(out: DataFrame, siblings: dict,
                         primary_name: str,
                         metric_names: set[str]) -> DataFrame:
    """Sibling pipeline aggs (avg/sum/min/max/stats_bucket): ES returns
    them as top-level scalars next to the bucket agg; a DataFrame
    carries them as constant columns on every bucket row (one tiny
    agg over the final bucket frame, broadcast back — no extra pass
    over data). buckets_path is ``<bucket-agg-name>>metric`` or
    ``<bucket-agg-name>>_count``, resolved against the FINAL frame
    (after parent pipelines, selector, and sort truncation)."""
    exprs = []
    for name, spec in siblings.items():
        [(ptype, args)] = dict(spec).items()
        path = args.get("buckets_path")
        if not isinstance(path, str) or ">" not in path:
            raise ESQueryError(
                f"{name}: sibling buckets_path must be "
                f"'{primary_name}>metric'")
        head, metric = path.split(">", 1)
        if head != primary_name:
            raise ESQueryError(
                f"{name}: buckets_path head {head!r} != bucket agg "
                f"{primary_name!r}")
        src = F.col(_pipe_src(metric, metric_names, name)) \
            .cast("double")
        if ptype == "stats_bucket":
            exprs += [F.count(src).alias(f"{name}_count"),
                      F.min(src).alias(f"{name}_min"),
                      F.max(src).alias(f"{name}_max"),
                      F.avg(src).alias(f"{name}_avg"),
                      F.sum(src).alias(f"{name}_sum")]
        else:
            exprs.append(_SIBLING_PIPE[ptype](src).alias(name))
    return out.crossJoin(F.broadcast(out.agg(*exprs)))


def _top_hits_df(docs: DataFrame, key_col, hspec: dict,
                 scored_match: DataFrame | None) -> DataFrame:
    """ES ``top_hits``: the top ``size`` documents per bucket, Spark-
    first as ONE window ``row_number`` over the bucket key — no
    per-bucket query re-execution (ES fetches hits per shard per
    bucket; here the whole tree is one shuffle on the key + one window
    pass). Sort: a list of ``{field: {"order": ...}}`` (default
    ``_score`` desc — available because the match set carries scores),
    doc_id asc appended as the deterministic tiebreak. ``_source``
    picks the doc columns to surface (default none: doc_id only);
    ``_score`` orders hits but is never a result column — surfacing it
    would tie the agg output schema to the query type."""
    from pyspark.sql import Window

    size = int(hspec.get("size", 3))
    sort = hspec.get("sort") or [{"_score": {"order": "desc"}}]
    frame = docs
    if scored_match is not None:
        frame = docs.join(scored_match.withColumnRenamed(
            "score", "_score"), "doc_id")
    cols = []
    for s in sort:
        if isinstance(s, str):
            s = {s: {"order": "asc"}}
        [(fld, opts)] = s.items()
        if fld == "_score" and scored_match is None:
            raise ESQueryError("top_hits sort on _score needs a scoring "
                               "query (not match_all)")
        if fld != "_score" and fld not in docs.columns:
            raise ESQueryError(f"top_hits sort field {fld!r} not in docs")
        desc = (opts or {}).get("order", "asc") == "desc"
        cols.append(F.col(fld).desc() if desc else F.col(fld).asc())
    cols.append(F.asc("doc_id"))
    src = list(hspec.get("_source") or [])
    missing = sorted(set(src) - set(docs.columns))
    if missing:
        raise ESQueryError(f"top_hits _source not in docs: {missing}")
    w = Window.partitionBy("key").orderBy(*cols)
    # rank over the FULL row (sort fields + _score still present), then
    # narrow to the hit columns
    return (frame.withColumn("key", key_col)
            .withColumn("hit_rank", F.row_number().over(w))
            .filter(F.col("hit_rank") <= size)
            .select("key", "doc_id", *src, "hit_rank"))


# auto_date_histogram rounding ladder: (label, seconds) fixed tiers,
# then calendar tiers — ES's AutoDateHistogramAggregationBuilder set
_ADH_FIXED = [("1s", 1), ("5s", 5), ("10s", 10), ("30s", 30),
              ("1m", 60), ("5m", 300), ("10m", 600), ("30m", 1800),
              ("1h", 3600), ("3h", 10800), ("12h", 43200),
              ("1d", 86400), ("7d", 604800)]
_ADH_YEARS = [1, 5, 10, 20, 50, 100]


def _auto_date_histogram(docs: DataFrame, args: dict,
                         subcols: list) -> DataFrame:
    """ES ``auto_date_histogram``: pick the smallest interval from the
    ES rounding ladder such that the bucket count stays within the
    ``buckets`` target (default 10), then one date_histogram groupBy at
    that interval. The pick is DETERMINISTIC from the matched docs'
    (min, max) timestamp span — one tiny two-scalar agg — where ES
    re-buckets adaptively during collection (same final ladder, our
    pick is reproducible by construction; calendar tiers use 30-day
    months / 365-day years for the span test, ES's own rough
    durations). Returns (key, doc_count, <metrics>, interval) ordered
    by key; the interval label rides as a constant column (ES returns
    it beside the buckets)."""
    field = (args or {}).get("field")
    if not field:
        raise ESQueryError("auto_date_histogram needs 'field'")
    if field not in docs.columns:
        raise ESQueryError(
            f"auto_date_histogram field {field!r} not in docs table "
            f"{sorted(docs.columns)}")
    target = int((args or {}).get("buckets", 10))
    if target <= 0:
        raise ESQueryError("auto_date_histogram buckets must be > 0")
    ts = F.col(field)
    row = docs.agg(F.min(ts).alias("lo"), F.max(ts).alias("hi")).first()
    lo, hi = row["lo"], row["hi"]
    if lo is None:
        return (docs.where(F.lit(False))
                .select(ts.alias("key"),
                        F.lit(0).cast("long").alias("doc_count"),
                        F.lit("1s").alias("interval")))
    span = (hi - lo).total_seconds()
    label, key = None, None
    for lab, sec in _ADH_FIXED:
        if span / sec + 1 <= target:
            label = lab
            key = F.timestamp_seconds(
                F.floor(F.unix_timestamp(ts) / sec) * sec)
            break
    if label is None and span / (30 * 86400) + 1 <= target:
        label, key = "1M", F.date_trunc("month", ts)
    if label is None and span / (90 * 86400) + 1 <= target:
        label, key = "3M", F.date_trunc("quarter", ts)
    if label is None:
        for n in _ADH_YEARS:
            if span / (n * 365 * 86400) + 1 <= target or n == 100:
                label = f"{n}y"
                yr = (F.floor(F.year(ts) / n) * n).cast("int")
                key = F.make_date(yr, F.lit(1), F.lit(1)) \
                    .cast("timestamp")
                break
    return (docs.groupBy(key.alias("key"))
            .agg(F.count(F.lit(1)).alias("doc_count"), *subcols)
            .where(F.col("key").isNotNull())
            .withColumn("interval", F.lit(label))
            .orderBy(F.asc("key")))


_MAX_BUCKETS = 65536  # ES search.max_buckets default

_DH_STEP = {"minute": 60, "hour": 3600, "day": 86400, "week": 604800}


def _hist_mdc(out: DataFrame, atype: str, args: dict) -> DataFrame:
    """ES ``min_doc_count`` / ``extended_bounds`` on histogram /
    date_histogram bucket frames. min_doc_count > 1 filters buckets;
    min_doc_count 0 RETURNS the empty buckets between the first and
    last populated key (metric sub-aggs null, doc_count 0 — what ES
    pipeline aggs like derivative/moving_fn expect to slide over), with
    ``extended_bounds: {min, max}`` widening that span (numeric
    histogram only). The engine default stays min_doc_count 1 — sparse
    output, a documented deviation from ES's histogram default of 0 —
    because sparse frames are what every hash-checked row and pipeline
    test was built on and the dense ladder is opt-in.

    Scale posture: the ladder is built driver-side from the (min, max)
    bucket keys — bucket-count rows (capped at ES's search.max_buckets
    65536, loudly), never corpus-sized — and joined back as a
    LocalRelation. Ladder keys are computed as (idx · interval + off)
    with integer-valued idx doubles, the SAME IEEE ops as the groupBy's
    floor-key, so generated and populated keys compare bit-identically.
    Gap-filled empty buckets can't carry top_hits rows (the flattened
    bucket×hit output has no empty-hits representation)."""
    mdc = int(args.get("min_doc_count", 1))
    eb = args.get("extended_bounds")
    if mdc < 0:
        raise ESQueryError("min_doc_count must be >= 0")
    if eb is not None:
        if mdc != 0:
            raise ESQueryError(
                "extended_bounds needs min_doc_count 0 (ES consults it "
                "only when empty buckets are returned)")
        if atype != "histogram" or not isinstance(eb, dict) \
                or not {"min", "max"} <= set(eb):
            raise ESQueryError(
                "extended_bounds takes {'min', 'max'} on a numeric "
                "histogram")
    if mdc == 1:
        return out
    if mdc > 1:
        return (out.where(F.col("doc_count") >= mdc)
                .orderBy(F.asc("key")))
    spark = out.sparkSession
    row = out.agg(F.min("key").alias("lo"), F.max("key").alias("hi")) \
        .first()
    lo, hi = row["lo"], row["hi"]
    fill = [F.coalesce(F.col(c), F.lit(0)).alias(c)
            if c == "doc_count" else c for c in out.columns]
    if atype == "histogram":
        interval = float(args["interval"])
        off = float(args.get("offset", 0.0))
        if eb is not None:
            import math

            for v in (float(eb["min"]), float(eb["max"])):
                k = math.floor((v - off) / interval) * interval + off
                lo = k if lo is None else min(lo, k)
                hi = k if hi is None else max(hi, k)
        if lo is None:
            return out
        lo_idx = round((lo - off) / interval)
        n = round((hi - off) / interval) - lo_idx + 1
        if n > _MAX_BUCKETS:
            raise ESQueryError(
                f"min_doc_count 0 would return {n} buckets "
                f"(max {_MAX_BUCKETS}) — raise 'interval'")
        keys = [(float(lo_idx + i) * interval + off,) for i in range(n)]
        ladder = spark.createDataFrame(keys, "key double")
    else:
        if lo is None:
            return out
        unit = args.get("calendar_interval",
                        args.get("fixed_interval", "day"))
        import datetime as _dt

        keys, cur = [], lo
        while cur <= hi and len(keys) <= _MAX_BUCKETS:
            keys.append((cur,))
            if unit == "month":
                y, m = divmod(cur.month, 12)
                cur = cur.replace(year=cur.year + y, month=m + 1)
            elif unit == "year":
                cur = cur.replace(year=cur.year + 1)
            else:
                cur = cur + _dt.timedelta(seconds=_DH_STEP[unit])
        if len(keys) > _MAX_BUCKETS:
            raise ESQueryError(
                f"min_doc_count 0 would exceed {_MAX_BUCKETS} buckets "
                "— use a coarser interval")
        ladder = spark.createDataFrame(keys, "key timestamp")
    return (ladder.join(out, "key", "left")
            .select(*fill).orderBy(F.asc("key")))


def _range_bound(v, date: bool, what: str):
    """One range edge as (Column, label). Numeric ranges take numbers;
    date_range takes ISO-8601 strings (kept verbatim as the key label)
    or epoch-millis numbers — both resolve to a timestamp literal."""
    if not date:
        return F.lit(float(v)), "%g" % float(v)
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return F.timestamp_millis(F.lit(int(v))), str(int(v))
    if isinstance(v, str):
        # validate driver-side (ADVICE r5): F.to_timestamp yields NULL
        # silently for malformed strings and ES date-math ('now-1d/d'),
        # which would return an empty bucket instead of failing loudly
        import datetime as _dt

        try:
            _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
        except ValueError:
            raise ESQueryError(
                f"date_range {what} is not a parseable ISO-8601 "
                f"datetime: {v!r} (ES date-math is not supported)")
        return F.to_timestamp(F.lit(v)), v
    raise ESQueryError(
        f"date_range {what} must be an ISO-8601 string or "
        f"epoch-millis number: {v!r}")


def _range_agg(docs: DataFrame, args: dict, metric_sub: dict,
               date: bool = False) -> DataFrame:
    """ES ``range`` / ``date_range`` aggs, faithfully: ranges are
    [from, to), MAY overlap (a doc lands in every matching bucket —
    why this cannot be one groupBy), empty buckets are returned with
    doc_count 0, and buckets come back in the order given. One
    filtered global-agg leg per range unioned — Catalyst shares the
    scan across legs, and the range count is user-written and small.
    Key format: "from-to" with "*" for an open edge (numbers via %g;
    date_range keeps the user's ISO spelling verbatim — deterministic
    where ES reformats through the field's date format)."""
    field = args.get("field")
    ranges = args.get("ranges")
    if not field or not ranges or not isinstance(ranges, list):
        raise ESQueryError("range needs 'field' and a 'ranges' list")
    frames = []
    for i, r in enumerate(ranges):
        lo, hi = r.get("from"), r.get("to")
        if lo is None and hi is None:
            raise ESQueryError(f"range #{i} needs 'from' and/or 'to'")
        cond = F.lit(True)
        lo_lab = hi_lab = "*"
        if lo is not None:
            lo_col, lo_lab = _range_bound(lo, date, f"range #{i} from")
            cond = cond & (F.col(field) >= lo_col)
        if hi is not None:
            hi_col, hi_lab = _range_bound(hi, date, f"range #{i} to")
            cond = cond & (F.col(field) < hi_col)
        label = lo_lab + "-" + hi_lab
        subcols = [c for n, s in metric_sub.items()
                   for c in _metric_cols(n, s)]
        frames.append(
            docs.filter(cond)
            .agg(F.count(F.lit(1)).alias("doc_count"), *subcols)
            .select(F.lit(label).alias("key"), "*",
                    F.lit(i).alias("_ro")))
    return reduce(DataFrame.unionByName, frames).orderBy("_ro").drop("_ro")


def _significant_terms(reader, docs: DataFrame, args: dict) -> DataFrame:
    """ES ``significant_terms`` (JLH heuristic — Lucene's JLHScore):
    terms overrepresented in the foreground match set vs the whole
    index. The LLM-pipeline use: "what vocabulary characterizes the
    documents matching X" (per-source contamination probes, topic
    drift, near-dup cluster labeling).

    Spark-first and scan-free on the background side: background doc
    frequencies come from the index's own term dictionary
    (``term_stats``, built once at index time) — ES does exactly this
    with shard-level docfreq, which also counts deleted-but-unmerged
    docs until a merge, and so does this (tombstoned docs stay in df
    until purge). Only the FOREGROUND is tokenized: one Arrow-batch
    ``mapInPandas`` pass over the matched docs emitting distinct
    (doc, term) rows + one groupBy(term) — the same shape as the
    build's stats stage, over the match set only, never a corpus
    re-scan.

    score = (fg% - bg%) · (fg% / bg%) for fg% > bg% (JLH); buckets
    filtered to ``min_doc_count`` (ES default 3), top ``size`` (default
    10) by score desc then term asc. Returns (key, doc_count, bg_count,
    score)."""
    field = args.get("field")
    if field != "text":
        raise ESQueryError(
            "significant_terms supports field 'text' (background doc "
            "frequencies come from the index term dictionary, which "
            "indexes the text field)")
    size = int(args.get("size", 10))
    min_dc = int(args.get("min_doc_count", 3))
    mode = reader.stats.get("analyzer", "english_folded")
    fg_total = docs.count()
    if fg_total == 0:
        return _empty_df(docs.sparkSession,
                         "key string, doc_count bigint, bg_count bigint, "
                         "score double")

    def _fg_terms(it):
        import numpy as np
        import pandas as pd

        from ..functions.analyzer import analyze_flat

        for pdf in it:
            codes, terms, lens = analyze_flat(pdf["text"], mode=mode)
            if codes.size == 0:
                continue
            didx = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
            uk = np.unique(didx * np.int64(terms.size) + codes)
            yield pd.DataFrame(
                {"term": terms[(uk % np.int64(terms.size))]})

    fg = (docs.select("text").mapInPandas(_fg_terms, "term string")
          .groupBy("term").agg(F.count(F.lit(1)).alias("doc_count")))
    bg = (reader.term_stats.groupBy("term")
          .agg(F.sum("df").cast("long").alias("bg_count")))
    n_bg = int(reader.stats["n_docs"])
    fgp = F.col("doc_count") / F.lit(float(fg_total))
    bgp = F.col("bg_count") / F.lit(float(n_bg))
    return (fg.join(bg, "term")
            .withColumn("score", (fgp - bgp) * (fgp / bgp))
            .filter((F.col("doc_count") >= min_dc) & (F.col("score") > 0))
            .select(F.col("term").alias("key"),
                    F.col("doc_count").cast("long").alias("doc_count"),
                    "bg_count", "score")
            .orderBy(F.desc("score"), F.asc("key"))
            .limit(size))


def _composite_agg(docs: DataFrame, args: dict,
                   metric_sub: dict) -> DataFrame:
    """ES ``composite`` agg — the paginated-bucket export surface (the
    mechanism ES users reach for to pull ALL buckets out of a large
    index, page by page, because plain terms aggs truncate). Sources
    (terms / histogram / date_histogram) become ONE multi-key groupBy;
    buckets order ascending by the source-key tuple (ES composite
    order), ``after`` resumes strictly after a key tuple
    (lexicographic), ``size`` pages (ES default 10). Page N+1's
    ``after`` is page N's last row's key columns — constant cost per
    page, same posture as search_after. At 10^12 rows the groupBy is
    the one corpus shuffle and every page re-reads only the
    already-aggregated bucket frame's plan — callers exporting many
    pages should cache the bucket frame or use a plain groupBy export;
    this surface exists for ES-verbatim clients."""
    sources = args.get("sources")
    if not sources or not isinstance(sources, list):
        raise ESQueryError("composite needs a 'sources' list")
    names, keys = [], []
    for src in sources:
        if not isinstance(src, dict) or len(src) != 1:
            raise ESQueryError("each composite source is one "
                               "{name: {type: args}} object")
        [(sname, sspec)] = src.items()
        if len(sspec) != 1:
            raise ESQueryError(f"composite source {sname!r} needs one "
                               "bucket type")
        [(stype, sargs)] = sspec.items()
        if stype not in ("terms", "histogram", "date_histogram"):
            raise ESQueryError(
                f"unsupported composite source type {stype!r}")
        names.append(sname)
        keys.append(_bucket_key(stype, sargs, sname))
    subcols = [c for n, s in metric_sub.items() for c in _metric_cols(n, s)]
    out = (docs.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("doc_count"), *subcols))
    after = args.get("after")
    if after is not None:
        missing = sorted(set(names) - set(after))
        if missing:
            raise ESQueryError(f"'after' lacks source keys: {missing}")
        # strictly after the tuple, lexicographic:
        # (k1 > a1) | (k1 == a1 & k2 > a2) | ...
        cond = F.lit(False)
        eq = F.lit(True)
        for n in names:
            cond = cond | (eq & (F.col(n) > F.lit(after[n])))
            eq = eq & (F.col(n) == F.lit(after[n]))
        out = out.filter(cond)
    return (out.orderBy(*[F.asc(n) for n in names])
            .limit(int(args.get("size", 10))))


def _bucket_key(atype: str, args: dict, alias: str):
    """The grouping expression of one bucket-agg level."""
    if atype == "multi_terms":
        # ES multi_terms: buckets keyed by a tuple of field values;
        # we emit ES's key_as_string ("v1|v2"), which keeps the key a
        # single orderable column through nesting/pipelines. Nulls in
        # any key field drop the doc from the agg, like ES.
        specs = args.get("terms")
        if (not specs or not isinstance(specs, list) or len(specs) < 2
                or not all(isinstance(s, dict) and s.get("field")
                           for s in specs)):
            raise ESQueryError(
                "multi_terms needs a 'terms' list of two or more "
                "{'field': ...} entries")
        cols = [F.col(s["field"]).cast("string") for s in specs]
        notnull = reduce(lambda a, b: a & b,
                         [c.isNotNull() for c in cols])
        return F.when(notnull, F.concat_ws("|", *cols)).alias(alias)
    field = args.get("field")
    if not field:
        raise ESQueryError(f"bucket agg lacks 'field': {args!r}")
    if atype == "terms":
        # ES `missing` param: null field values bucket under the given
        # substitute (must be type-compatible with the column — a
        # mismatch fails analysis loudly) instead of being dropped
        if "missing" in args:
            return F.coalesce(F.col(field),
                              F.lit(args["missing"])).alias(alias)
        return F.col(field).alias(alias)
    if atype == "date_histogram":
        interval = args.get("calendar_interval",
                            args.get("fixed_interval", "day"))
        units = {"minute": "minute", "hour": "hour", "day": "day",
                 "week": "week", "month": "month", "year": "year"}
        if interval not in units:
            raise ESQueryError(f"unsupported interval {interval!r}")
        return F.date_trunc(units[interval], F.col(field)).alias(alias)
    if atype == "histogram":
        if "interval" not in args:
            raise ESQueryError("histogram needs 'interval'")
        interval = float(args["interval"])
        if interval <= 0:
            raise ESQueryError("histogram interval must be > 0")
        off = float(args.get("offset", 0.0))
        # ES bucket key = the bucket's inclusive lower bound
        return ((F.floor((F.col(field) - F.lit(off)) / F.lit(interval))
                 * F.lit(interval) + F.lit(off))
                .cast("double").alias(alias))
    raise ESQueryError(f"unsupported bucket agg {atype!r}")


def es_scroll(index, body: dict, k1: float | None = None,
              b: float | None = None):
    """ES ``scroll`` analog: iterate ALL hits of a query body as
    successive ``size``-row pages (ES default 10) in the stable
    (score desc, doc_id asc) order. Driven by the ``search_after``
    cursor internally — ES 8.x itself deprecates scroll contexts in
    favor of search_after + point-in-time, and the IndexReader's
    committed-segment fence IS the PIT here: a scroll opened on a
    reader never sees appends or compactions committed after that
    reader was constructed (operators/generations.py pinned readers),
    so pages tile exactly even under concurrent writes. Yields lists
    of Rows; each page costs one top-k query (zero Spark jobs on the
    serving tier inside budgets — deep scrolls never grow per-page
    cost, unlike from/size). Bodies carrying their own pagination or
    ordering keys are rejected loudly, like ES's scroll API."""
    bad = sorted(set(body) & {"from", "search_after", "sort",
                              "collapse", "rescore", "knn"})
    if bad:
        raise ESQueryError(f"scroll does not compose with {bad}")
    size = int(body.get("size", DEFAULT_SIZE))
    # chunked cursor walk (r6): each es_search pays the full scoring
    # scan regardless of k, so fetching several pages per query and
    # slicing driver-side amortizes that scan 5x. Pages are identical
    # to the one-query-per-page walk: the (score desc, doc_id asc)
    # order is a deterministic total order, so a larger size returns
    # the same ordered prefix (the search_after tiling tests assert
    # exactly this prefix property).
    chunk = size * 5
    after = None
    while True:
        b2 = dict(body)
        b2["size"] = chunk
        if after is not None:
            b2["search_after"] = list(after)
        rows = es_search(index, b2, k1=k1, b=b).collect()
        if not rows:
            break
        for i in range(0, len(rows), size):
            page = rows[i:i + size]
            yield page
            if len(page) < size:
                return
        if len(rows) < chunk:
            return
        after = (float(rows[-1]["score"]), int(rows[-1]["doc_id"]))


def es_msearch(index, bodies: list[dict] | dict[str, dict],
               k1: float | None = None,
               b: float | None = None) -> DataFrame:
    """ES ``_msearch`` analog: many query bodies, one result DataFrame
    with a ``qid`` column (list input: "q0", "q1", ...; dict input: its
    keys). Budget-sized bodies evaluate driver-locally and the whole
    batch becomes ONE job-free LocalRelation; a mixed batch unions the
    over-budget bodies' distributed plans — Spark executes the union's
    legs concurrently in one action, the batch-amortization posture of
    search_many applied to arbitrary DSL bodies."""
    if isinstance(bodies, dict):
        items = list(bodies.items())
    else:
        items = [(f"q{i}", body) for i, body in enumerate(bodies)]
    if not items:
        raise ESQueryError("es_msearch needs at least one body")
    ctx = _Ctx(index, k1, b)
    frames = []
    for qid, body in items:
        # the batched result is ONE uniform (qid, doc_id, score) frame, so
        # per-body projection/highlighting cannot be honored — reject
        # loudly instead of silently returning bare rows (ADVICE r4):
        # callers wanting _source/highlight use es_search per body
        unsupported = sorted({"_source", "highlight"} & set(body))
        if unsupported:
            raise ESQueryError(
                f"body {qid!r} uses {unsupported} — unsupported in "
                "es_msearch (its batched result is a uniform "
                "(qid, doc_id, score) frame); run es_search for that body")
        part = _eval_body(ctx, _expand_body_qs(body, f"body {qid!r}"),
                          label=f"body {qid!r}")
        frames.append(part.select(F.lit(qid).alias("qid"),
                                  "doc_id", "score"))
    return reduce(DataFrame.unionByName, frames)


_SUGGEST_OPTS = {"field", "size", "max_edits", "prefix_length",
                 "min_word_length", "suggest_mode", "sort",
                 "min_doc_freq"}


def _spell_candidates(reader: IndexReader,
                      need: list[tuple]) -> dict[tuple, pd.DataFrame]:
    """Spelling-candidate generation shared by the term and phrase
    suggesters: for each (token, max_edits) pair, the index terms
    within the length band whose Levenshtein lower bound passes —
    driver-local against the in-RAM vocabulary when it fits the
    budget, else ONE JVM length-band + thresholded ``F.levenshtein``
    prefilter scan. Exact Damerau filtering is the caller's (both
    tiers return the same superset by construction)."""
    cand_by_token: dict[tuple, pd.DataFrame] = {}
    vocab = reader.vocab_arrow()
    if vocab is not None:
        from ..functions.editdist import levenshtein_many

        tlen_np = reader._vocab_tlen
        for token, maxed in need:
            band = ((tlen_np >= len(token) - maxed)
                    & (tlen_np <= len(token) + maxed))
            sub = vocab.loc[band]
            if sub.empty:
                cand_by_token[(token, maxed)] = sub
                continue
            lev = levenshtein_many(sub["term"].tolist(), token)
            cand_by_token[(token, maxed)] = sub.loc[lev <= 2 * maxed]
    else:
        spark = reader.spark
        qdf = spark.createDataFrame(
            [(t, e, len(t)) for t, e in need],
            "qterm string, maxed int, qlen int")
        tlen = F.length("term")
        lev_pre = F.levenshtein("term", "qterm", 4)
        cand = (
            reader.term_stats.join(
                F.broadcast(qdf),
                (tlen >= F.col("qlen") - F.col("maxed"))
                & (tlen <= F.col("qlen") + F.col("maxed")))
            .filter((lev_pre >= 0) & (lev_pre <= F.col("maxed") * 2))
            .groupBy("qterm", "maxed", "term")
            .agg(F.sum("df").alias("df"))
        ).toPandas()
        for token, maxed in need:
            cand_by_token[(token, maxed)] = cand[
                (cand["qterm"] == token) & (cand["maxed"] == maxed)]
    return cand_by_token


def es_suggest(index, body: dict) -> DataFrame:
    """ES term suggester ("did you mean"): for each analyzed token of
    a suggest text, spelling-correction candidates from the index term
    dictionary within ``max_edits`` Damerau-Levenshtein edits.

    Body shape (ES's, the optional top-level "suggest" wrapper
    accepted)::

        {"my-sugg": {"text": "nueral netwrks",
                     "term": {"field": "text", "size": 5,
                              "max_edits": 2, "prefix_length": 1,
                              "min_word_length": 4,
                              "suggest_mode": "missing",
                              "sort": "score", "min_doc_freq": 0}}}

    Semantics (Lucene DirectSpellChecker, which backs ES's term
    suggester): candidates must share the first ``prefix_length``
    chars with the token; tokens shorter than ``min_word_length``
    get no suggestions; ``suggest_mode`` missing = only tokens ABSENT
    from the index, popular = only candidates with df > the token's
    df, always = every token; the token itself is never a candidate.
    score = 1 - ed / min(|token|, |candidate|) — the same published
    FuzzyTermsEnum similarity the fuzzy query path uses. ``sort``
    score -> (score desc, freq desc, term asc); frequency ->
    (freq desc, score desc, term asc); ``size`` per token.

    Two-tier like the fuzzy query: when the term dictionary fits the
    reader's vocab budget the whole expansion is DRIVER-LOCAL (zero
    Spark jobs, the Lucene terms-dict-in-RAM shape); otherwise one
    JVM-only job does the length-band + thresholded F.levenshtein
    prefilter and the exact Damerau DP runs driver-side over the
    collected survivors — both tiers bit-identical by construction
    (same two stages, test-guarded).

    Returns a DataFrame (suggest, token, candidate, score, freq)
    in suggester-name, token, rank order.
    """
    from ..functions.analyzer import analyze_query
    from ..functions.editdist import damerau_levenshtein

    suggesters = body.get("suggest", body)
    if not isinstance(suggesters, dict) or not suggesters:
        raise ESQueryError("es_suggest needs at least one suggester")
    ctx = _Ctx(index, None, None)
    reader = next(iter(ctx.readers.values()))
    mode_an = reader.stats.get("analyzer", "english_folded")

    # ---- parse + analyze every suggester's text -------------------------
    wanted = []  # (name, token, size, max_edits, prefix_len, mode, sort,
    #              min_df)
    for name, spec in suggesters.items():
        if not isinstance(spec, dict) or "text" not in spec \
                or "term" not in spec:
            raise ESQueryError(
                f"suggester {name!r} needs 'text' and 'term' (only the "
                "term suggester is supported; phrase/completion are not)")
        term = dict(spec["term"])
        bad = set(term) - _SUGGEST_OPTS
        if bad:
            raise ESQueryError(
                f"unsupported term-suggester options: {sorted(bad)}")
        field = term.get("field", "text")
        if field != "text":
            raise ESQueryError(
                f"term suggester field {field!r} unsupported — this "
                "index analyzes 'text'")
        max_edits = int(term.get("max_edits", 2))
        if max_edits not in (1, 2):
            raise ESQueryError("max_edits must be 1 or 2 (ES limit)")
        smode = str(term.get("suggest_mode", "missing"))
        if smode not in ("missing", "popular", "always"):
            raise ESQueryError(
                f"suggest_mode {smode!r} must be missing|popular|always")
        sort = str(term.get("sort", "score"))
        if sort not in ("score", "frequency"):
            raise ESQueryError("sort must be score|frequency")
        size = int(term.get("size", 5))
        plen = int(term.get("prefix_length", 1))
        minlen = int(term.get("min_word_length", 4))
        mindf = int(term.get("min_doc_freq", 0))
        for token, _ in analyze_query(str(spec["text"]), mode=mode_an):
            if len(token) >= minlen:
                wanted.append((name, token, size, max_edits, plen,
                               smode, sort, mindf))
    spark = ctx.spark
    out_schema = ("suggest string, token string, candidate string, "
                  "score double, freq long")
    if not wanted:
        return _empty_df(spark, out_schema)

    # df of each distinct token (for suggest_mode missing/popular)
    tokens = sorted({t for _, t, *_ in wanted})
    tok_stats = reader.term_stats_arrow(tokens)
    tok_df = dict(zip(tok_stats["term"], tok_stats["df"])) \
        if not tok_stats.empty else {}

    # ---- candidate generation: driver-local tier, JVM-scan fallback -----
    need = sorted({(t, e) for _, t, _, e, *_ in wanted})
    cand_by_token = _spell_candidates(reader, need)

    # ---- per-token ranking (pure pandas over metadata-scale frames) -----
    rows = []
    for name, token, size, maxed, plen, smode, sort, mindf in wanted:
        if smode == "missing" and tok_df.get(token, 0) > 0:
            continue
        sub = cand_by_token[(token, maxed)]
        if sub.empty:
            continue
        sub = sub[sub["term"] != token]
        if plen > 0:
            sub = sub[sub["term"].str.startswith(token[:plen])]
        if sub.empty:
            continue
        eds = np.fromiter(
            (damerau_levenshtein(t, token) for t in sub["term"]),
            dtype=np.int64, count=len(sub))
        keep = eds <= maxed
        sub, eds = sub.loc[keep], eds[keep]
        if mindf > 0:
            m = sub["df"].to_numpy() >= mindf
            sub, eds = sub.loc[m], eds[m]
        if smode == "popular":
            m = sub["df"].to_numpy() > tok_df.get(token, 0)
            sub, eds = sub.loc[m], eds[m]
        if sub.empty:
            continue
        tlens = sub["term"].str.len().to_numpy(np.int64)
        score = 1.0 - eds / np.minimum(len(token), tlens)
        page = pd.DataFrame({
            "candidate": sub["term"].to_numpy(),
            "score": score, "freq": sub["df"].to_numpy(np.int64)})
        by = (["score", "freq", "candidate"] if sort == "score"
              else ["freq", "score", "candidate"])
        page = page.sort_values(
            by, ascending=[False, False, True],
            kind="mergesort").head(size)
        for r in page.itertuples(index=False):
            rows.append((name, token, r.candidate,
                         float(r.score), int(r.freq)))
    return spark.createDataFrame(rows, out_schema)


def _bigram_counts(reader: IndexReader,
                   pairs: list[tuple[str, str]]) -> dict[tuple, int]:
    """Corpus counts of adjacent token bigrams, from the POSITIONAL
    index (no corpus re-scan): occurrences of ``a`` at position p and
    ``b`` at p+1 in the same doc. Driver-local (zero Spark jobs) when
    the involved terms' Σ df fits the reader budget — the same gate the
    phrase query uses — else ONE job over the bucket-pruned positional
    postings with a key-join (doc·2³²+pos arithmetic identical to the
    local tier)."""
    from .scorer import _PHRASE_SHIFT, _positions_local

    out = {tuple(p): 0 for p in pairs}
    terms = sorted({t for p in pairs for t in p})
    ts = reader.term_stats_arrow(terms)
    present = set(ts["term"])
    need = [p for p in out if p[0] in present and p[1] in present]
    if not need:
        return out
    small = int(ts["df"].sum()) <= reader.driver_local_max_postings \
        and (not reader.has_deletes
             or reader.n_deleted_rows <= DRIVER_LOCAL_MAX_DELETES)
    if small:
        by_term, _, _ = _positions_local(
            reader, sorted({t for p in need for t in p}))
        deleted = (_deleted_ids_arrow(reader)
                   if reader.has_deletes else None)
        for a, b in need:
            if a not in by_term or b not in by_term:
                continue
            docs_a, keys_a = by_term[a]
            docs_b, keys_b = by_term[b]
            if deleted is not None and deleted.size:
                keys_a = keys_a[~np.isin(docs_a, deleted)]
                keys_b = keys_b[~np.isin(docs_b, deleted)]
            out[(a, b)] = int(np.intersect1d(keys_a + 1, keys_b).size)
        return out
    from .indexer import decode_positions_block

    spark = reader.spark
    uniq = sorted({t for p in need for t in p})
    buckets = sorted(set(reader.bucket_of(uniq).values()))
    posts = (reader.postings
             .filter(F.col("bucket").isin(buckets)
                     & F.col("term").isin(uniq))
             .select("term", "doc_gaps", "poss"))

    def _flatten(it):
        for pdf in it:
            for r in pdf.itertuples(index=False):
                doc_ids = delta_decode(vb_decode(bytes(r.doc_gaps)))
                poss = decode_positions_block(bytes(r.poss),
                                              doc_ids.size)
                lens = np.fromiter((p.size for p in poss),
                                   dtype=np.int64, count=doc_ids.size)
                if not lens.sum():
                    continue
                docs_rep = np.repeat(doc_ids, lens).astype(np.int64)
                keys = (docs_rep * _PHRASE_SHIFT
                        + np.concatenate(poss).astype(np.int64))
                yield pd.DataFrame({"term": r.term, "key": keys})

    flat = posts.mapInPandas(_flatten, "term string, key long")
    if reader.has_deletes:
        flat = reader.live_only(flat.withColumn(
            "doc_id", F.expr(f"key div {_PHRASE_SHIFT}"))).drop("doc_id")
    pairs_df = spark.createDataFrame(list(need), "a string, b string")
    cnt = (flat.alias("x")
           .join(F.broadcast(pairs_df), F.col("x.term") == F.col("a"))
           .select("a", "b", (F.col("key") + 1).alias("k"))
           .join(flat.alias("y"),
                 (F.col("y.term") == F.col("b"))
                 & (F.col("y.key") == F.col("k")))
           .groupBy("a", "b")
           .agg(F.count(F.lit(1)).alias("c"))).collect()
    for r in cnt:
        out[(r.a, r.b)] = int(r.c)
    return out


_PHRASE_SUGG_OPTS = {"field", "size", "max_errors", "confidence",
                     "gram_size", "smoothing", "direct_generator"}


def es_phrase_suggest(index, body: dict) -> DataFrame:
    """ES PHRASE suggester: whole-phrase "did you mean" corrections
    ranked by a word-bigram Stupid Backoff language model over the
    corpus (the ES default smoothing), with spelling candidates from
    the same machinery as the term suggester.

    Body shape::

        {"my-sugg": {"text": "nueral netwrk improve",
                     "phrase": {"field": "text", "size": 3,
                                "max_errors": 1, "confidence": 1.0,
                                "smoothing": {"stupid_backoff":
                                              {"discount": 0.4}},
                                "direct_generator": [{
                                    "suggest_mode": "missing",
                                    "max_edits": 2, "prefix_length": 1,
                                    "min_word_length": 4, "size": 5}]}}}

    Semantics: per analyzed token, up to generator-``size`` spelling
    candidates (term-suggester ranking: similarity desc, df desc, term
    asc; ``suggest_mode`` missing = only tokens absent from the index
    get alternatives); candidate phrases differ from the input in at
    most ``max_errors`` slots; each is scored
    ``ln P(w1) + Σ ln SB(wi|wi-1)`` with
    ``P(w) = (cf(w)+1)/(N+V)`` (Laplace-floored unigram — never zero,
    exactly mirrorable in SQL) and
    ``SB(wi|wi-1) = c(wi-1 wi)/cf(wi-1)`` when the bigram exists, else
    ``discount · P(wi)``. Bigram counts come from the POSITIONAL index
    via _bigram_counts (zero-job inside the phrase budget), never a
    corpus re-scan. Only candidates scoring above
    ``ln(confidence) + score(input)`` return (ES's confidence gate);
    the unchanged input never returns. gram_size is fixed at 2 and
    laplace/linear-interpolation smoothing is rejected loudly.

    Returns (suggest, phrase, score, n_changes) — top ``size`` per
    suggester by (score desc, phrase asc)."""
    from itertools import combinations, product

    from ..functions.analyzer import analyze
    from ..functions.editdist import damerau_levenshtein

    suggesters = body.get("suggest", body)
    if not isinstance(suggesters, dict) or not suggesters:
        raise ESQueryError("es_phrase_suggest needs >= 1 suggester")
    ctx = _Ctx(index, None, None)
    reader = next(iter(ctx.readers.values()))
    spark = ctx.spark
    mode_an = reader.stats.get("analyzer", "english_folded")
    n_total = int(reader.stats["total_tokens"])
    vocab = reader.vocab_arrow()
    if vocab is not None:
        v_size = int(len(vocab))
    else:
        v_size = int(reader.term_stats.select("term")
                     .distinct().count())

    out_schema = ("suggest string, phrase string, score double, "
                  "n_changes int")
    rows_out: list[tuple] = []
    for name, spec in suggesters.items():
        if not isinstance(spec, dict) or "text" not in spec \
                or "phrase" not in spec:
            raise ESQueryError(
                f"suggester {name!r} needs 'text' and 'phrase'")
        ph = dict(spec["phrase"])
        bad = set(ph) - _PHRASE_SUGG_OPTS
        if bad:
            raise ESQueryError(
                f"unsupported phrase-suggester options: {sorted(bad)}")
        if ph.get("field", "text") != "text":
            raise ESQueryError("phrase suggester field must be 'text'")
        if int(ph.get("gram_size", 2)) != 2:
            raise ESQueryError("gram_size is fixed at 2 (bigram LM)")
        smoothing = ph.get("smoothing",
                           {"stupid_backoff": {"discount": 0.4}})
        if set(smoothing) != {"stupid_backoff"}:
            raise ESQueryError(
                "only stupid_backoff smoothing is supported")
        discount = float(smoothing["stupid_backoff"]
                         .get("discount", 0.4))
        size = int(ph.get("size", 3))
        max_errors = int(ph.get("max_errors", 1))
        confidence = float(ph.get("confidence", 1.0))
        gens = ph.get("direct_generator") or [{}]
        if len(gens) != 1:
            raise ESQueryError("exactly one direct_generator supported")
        gen = dict(gens[0])
        g_mode = str(gen.get("suggest_mode", "missing"))
        g_edits = int(gen.get("max_edits", 2))
        if g_edits not in (1, 2):
            # ES's own bound; also keeps the distributed candidate
            # tier's levenshtein prefilter threshold (2 * max_edits)
            # aligned with the driver-local tier (ADVICE r5: max_edits
            # 3 silently lost candidates on the JVM path only)
            raise ESQueryError(
                "direct_generator max_edits must be 1 or 2 (ES limit)")
        g_plen = int(gen.get("prefix_length", 1))
        g_minlen = int(gen.get("min_word_length", 4))
        g_size = int(gen.get("size", 5))

        # ORDER-preserving analysis: the LM scores adjacent bigrams, so
        # (unlike the bag-of-terms queries) token order is semantic
        tokens = analyze(str(spec["text"]), mode=mode_an)
        if not tokens:
            continue
        stats0 = reader.term_stats_arrow(tokens)
        cf0 = dict(zip(stats0["term"], stats0["cf"])) \
            if not stats0.empty else {}
        df0 = dict(zip(stats0["term"], stats0["df"])) \
            if not stats0.empty else {}

        # per-slot alternatives (term-suggester ranking)
        need = sorted({(t, g_edits) for t in tokens
                       if len(t) >= g_minlen
                       and not (g_mode == "missing"
                                and df0.get(t, 0) > 0)})
        cands = _spell_candidates(reader, need)
        alts: list[list[str]] = []
        for t in tokens:
            if (t, g_edits) not in cands:
                alts.append([])
                continue
            sub = cands[(t, g_edits)]
            sub = sub[sub["term"] != t]
            if g_plen > 0:
                sub = sub[sub["term"].str.startswith(t[:g_plen])]
            if sub.empty:
                alts.append([])
                continue
            eds = np.fromiter(
                (damerau_levenshtein(c, t) for c in sub["term"]),
                dtype=np.int64, count=len(sub))
            keep = eds <= g_edits
            sub, eds = sub.loc[keep], eds[keep]
            if sub.empty:
                alts.append([])
                continue
            tlens = sub["term"].str.len().to_numpy(np.int64)
            score = 1.0 - eds / np.minimum(len(t), tlens)
            page = (pd.DataFrame({"candidate": sub["term"].to_numpy(),
                                  "s": score,
                                  "df": sub["df"].to_numpy(np.int64)})
                    .sort_values(["s", "df", "candidate"],
                                 ascending=[False, False, True],
                                 kind="mergesort").head(g_size))
            alts.append(page["candidate"].tolist())

        # enumerate phrases differing in <= max_errors slots
        slots_with = [i for i, a in enumerate(alts) if a]
        phrases: list[tuple[list[str], int]] = []
        for r in range(1, min(max_errors, len(slots_with)) + 1):
            for pick in combinations(slots_with, r):
                for combo in product(*(alts[i] for i in pick)):
                    cand = list(tokens)
                    for slot, term in zip(pick, combo):
                        cand[slot] = term
                    phrases.append((cand, r))
        if not phrases:
            continue

        # LM stats: unigram cf for every involved term, bigram counts
        # for every adjacent pair (input + candidates)
        all_terms = sorted({t for p, _ in phrases for t in p}
                           | set(tokens))
        st = reader.term_stats_arrow(all_terms)
        cf = dict(zip(st["term"], st["cf"])) if not st.empty else {}
        all_pairs = sorted({(p[i], p[i + 1])
                            for p, _ in phrases + [(tokens, 0)]
                            for i in range(len(p) - 1)})
        bi = _bigram_counts(reader, all_pairs)

        def _lm(seq: list[str]) -> float:
            import math

            def uni(w):
                return (cf.get(w, 0) + 1.0) / (n_total + v_size)

            s = math.log(uni(seq[0]))
            for i in range(1, len(seq)):
                c_bi = bi.get((seq[i - 1], seq[i]), 0)
                c_prev = cf.get(seq[i - 1], 0)
                if c_bi > 0 and c_prev > 0:
                    s += math.log(c_bi / c_prev)
                else:
                    s += math.log(discount * uni(seq[i]))
            return s

        import math

        base_score = _lm(tokens)
        thresh = (math.log(confidence) + base_score
                  if confidence > 0 else -math.inf)
        scored = []
        for cand, r in phrases:
            if cand == tokens:
                continue
            sc = _lm(cand)
            if sc > thresh:
                scored.append((" ".join(cand), sc, r))
        scored.sort(key=lambda x: (-x[1], x[0]))
        seen: set[str] = set()
        for phrase_text, sc, r in scored:
            if phrase_text in seen:
                continue
            seen.add(phrase_text)
            rows_out.append((name, phrase_text, float(sc), int(r)))
            if len(seen) >= size:
                break
    return spark.createDataFrame(rows_out, out_schema)


def es_count(index, body: dict, k1: float | None = None,
             b: float | None = None) -> int:
    """ES ``_count`` analog: the number of docs matching
    ``body["query"]`` (match_all when the body omits it), no scoring
    materialized past the match set. Budget-sized bodies count with
    zero Spark jobs; otherwise the match-set plan runs one count
    action (exact — no ES ``track_total_hits`` 10k cap)."""
    body = _expand_body_qs(body)
    ctx = _Ctx(index, k1, b)
    query = body.get("query", {"match_all": {}})
    [(kind, _)] = query.items()
    if kind == "match_all":
        reader = next(iter(ctx.readers.values()))
        return reader.live_only(reader.docs.select("doc_id")).count()
    local = _clause_pd(ctx, query)
    if local is not None:
        return int(len(local))
    return _clause_df(ctx, query).count()
