"""Text analysis operators for large-scale training-data pipelines
(beyond-reference mandate: language-ID, quality scoring, token counting,
document fingerprinting).

Everything here is built from native ``pyspark.sql.functions`` string/array
expressions — JVM-side, whole-stage-codegen'd, no Python UDFs — so the same
plan that passes at sf0.01 streams over 100 TB of documents.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Row, functions as F

from ..dtutil import _let, materialize

_WS = r"\s+"


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank counts 0, NULL stays NULL
    (explicit guard: non-ANSI size(NULL) is -1, ANSI is NULL — the guard
    makes the result session-independent)."""
    t = F.trim(text)
    return _n_tokens(text, t, F.split(t, _WS))


def _n_tokens(text: Column, trimmed: Column, toks: Column) -> Column:
    """:func:`token_count` of ``text`` given its trimmed form and its
    token array."""
    return F.when(text.isNull(), F.lit(None).cast("int")) \
            .when(F.length(trimmed) == 0, F.lit(0)) \
            .otherwise(F.size(toks))


def char_count(text: Column) -> Column:
    return F.length(text)


def avg_token_length(text: Column) -> Column:
    """Mean token length — a classic quality-score feature."""
    t = F.trim(text)
    return _avg_len(t, F.split(t, _WS))


def _avg_len(trimmed: Column, toks: Column) -> Column:
    """:func:`avg_token_length` given the trimmed text and its tokens."""
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.length(trimmed) == 0, F.lit(None).cast("double")) \
            .otherwise(total.cast("double") / F.size(toks))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation (quality heuristic)."""
    stripped = F.regexp_replace(text, r"[\p{Punct}]", "")
    return F.when(F.length(text) == 0, F.lit(None).cast("double")) \
            .otherwise((F.length(text) - F.length(stripped)).cast("double") / F.length(text))


def uppercase_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[A-Z]", "")
    return F.when(F.length(text) == 0, F.lit(None).cast("double")) \
            .otherwise((F.length(text) - F.length(stripped)).cast("double") / F.length(text))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = (
        "the", "a", "an", "and", "or", "of", "to", "in", "is", "it")) -> Column:
    """Fraction of tokens that are stopwords (English-ish default list)."""
    toks = F.split(F.lower(F.trim(text)), _WS)
    sw = F.array(*[F.lit(w) for w in stopwords])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    # <= 0 guard: non-ANSI size(NULL) is -1, which would yield -1/-1 = 1.0
    return F.when(text.isNull() | (F.size(toks) <= 0),
                  F.lit(None).cast("double")) \
            .otherwise(n_sw.cast("double") / F.size(toks))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length band + punctuation band +
    mean-token-length band. Deterministic and cheap; a stand-in for the
    classifier-based scores real pipelines train. NULL text scores
    NULL."""
    return _quality_from(token_count(text), punct_ratio(text),
                         avg_token_length(text))


# Minimal per-language character/stopword signatures for n-gram-free
# heuristic language ID. Real pipelines plug a fastText model in via
# mapInPandas; this keeps the plumbing (and the query surface) testable.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "nicht", "das"),
    "fr": ("le", "la", "les", "est", "une"),
    "es": ("el", "los", "que", "una", "por"),
}


def lang_id(text: Column) -> Column:
    """Heuristic language ID: CJK codepoint detection first, then stopword
    marker voting; 'unknown' when nothing matches. Pure Catalyst exprs."""
    return _lang_from(text, F.split(F.lower(F.trim(text)), _WS))


# GPT-2-style pre-tokenizer pattern, restricted to constructs RE2 (DuckDB)
# and Java regex share: no lookahead, ASCII classes. Counts contractions,
# letter runs, digit runs, punctuation runs, whitespace runs as tokens —
# a stable proxy for BPE token counts when budgeting LLM training data.
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s+"


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count via ``regexp_count`` — one JVM-side regex scan,
    no tokenizer model needed. Tracks (not equals) a real BPE tokenizer:
    real BPE splits long words into subwords, so this undercounts rare
    words; for corpus-level budget estimates multiply by a calibration
    factor measured once on a sample."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


_EOW = "</w>"


def bpe_train(df: DataFrame, text_col: str = "text", *, n_merges: int = 1000,
              max_words: int = 1_000_000, lowercase: bool = False) -> list:
    """Train a byte-pair-encoding merge table (Sennrich et al. 2016,
    arXiv:1508.07909 — the original BPE algorithm) over the corpus.
    Returns the ordered merge list ``[(left, right), ...]``; feed it to
    :func:`bpe_encode`.

    The distributed part is exactly the part that touches the corpus: ONE
    whitespace-tokenize + explode + groupBy builds the word-frequency
    table (map-side combined, linear shuffle). The merge loop then runs
    driver-side over that table — which is how BPE training works
    everywhere in practice (the word-frequency dict is vocabulary-shaped,
    Zipfian, and fits memory; the corpus does not). ``max_words`` caps the
    table at the most frequent words (TakeOrdered, deterministic
    count-desc/word-asc), bounding driver memory at any corpus scale; the
    dropped long tail has negligible pair mass.

    Determinism: pair selection breaks count ties toward the
    lexicographically smallest pair, so the merge sequence is a pure
    function of the word-frequency table (no dict-iteration-order
    dependence — a distributed count has no insertion order to fall back
    on). Words carry a ``</w>`` end-of-word marker per the paper.

    Driver cost is O(n_merges x vocab-table) — the same shape as
    Sennrich's reference learn_bpe (each merge rescans the table with a
    cheap symbol-membership check). At the extremes (max_words=1M AND
    n_merges in the tens of thousands) budget minutes of driver time, or
    lower ``max_words``: Zipf concentrates pair mass in the head, so a
    100k-word table yields near-identical early merges."""
    toks = F.filter(F.split(
        F.lower(F.trim(F.col(text_col))) if lowercase
        else F.trim(F.col(text_col)), _WS), lambda t: F.length(t) > 0)
    wf = (df.select(F.explode(toks).alias("__w__"))
            .groupBy("__w__").agg(F.count(F.lit(1)).alias("__c__"))
            .orderBy(F.desc("__c__"), F.asc("__w__"))
            .limit(max_words).collect())
    vocab = {tuple(r["__w__"]) + (_EOW,): r["__c__"] for r in wf}
    merges: list = []
    from collections import defaultdict
    pair_counts: dict = defaultdict(int)
    for word, c in vocab.items():
        for i in range(len(word) - 1):
            pair_counts[(word[i], word[i + 1])] += c
    for _ in range(n_merges):
        if not pair_counts:
            break
        # max count, ties to the smallest pair — deterministic
        best = min(pair_counts, key=lambda p: (-pair_counts[p], p))
        if pair_counts[best] <= 0:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for word, c in vocab.items():
            if best[0] in word:
                out, i = [], 0
                while i < len(word):
                    if (i < len(word) - 1 and word[i] == best[0]
                            and word[i + 1] == best[1]):
                        out.append(merged)
                        i += 2
                    else:
                        out.append(word[i])
                        i += 1
                word2 = tuple(out)
                if word2 != word:
                    for i in range(len(word) - 1):
                        pair_counts[(word[i], word[i + 1])] -= c
                    for i in range(len(word2) - 1):
                        pair_counts[(word2[i], word2[i + 1])] += c
                word = word2
            new_vocab[word] = new_vocab.get(word, 0) + c
        vocab = new_vocab
        pair_counts = defaultdict(
            int, {p: c for p, c in pair_counts.items() if c > 0})
    return merges


_BPE_CACHE_MAX = 2_000_000


def _bpe_word(word: str, ranks: dict, cache: dict) -> list:
    hit = cache.get(word)
    if hit is not None:
        return hit
    syms = list(word) + [_EOW]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        pair = (syms[best_i], syms[best_i + 1])
        merged = pair[0] + pair[1]
        out, i = [], 0
        while i < len(syms):
            if (i < len(syms) - 1 and syms[i] == pair[0]
                    and syms[i + 1] == pair[1]):
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    # bounded cache: at corpus scale the distinct-word set is unbounded
    # (urls, ids, typos) — past the cap, Zipf says the misses are
    # overwhelmingly hapax words that would never be re-hit anyway
    if len(cache) < _BPE_CACHE_MAX:
        cache[word] = syms
    return syms


def bpe_encode(df: DataFrame, merges, text_col: str = "text", *,
               out_col: str = "bpe_tokens", vocab: dict | None = None,
               unk_id: int = -1, lowercase: bool = False) -> DataFrame:
    """Encode text with a trained BPE merge table (:func:`bpe_train`):
    whitespace pre-tokenize, then greedy lowest-rank merging per word —
    the exact subword stream a trainer would consume, unlike
    :func:`token_count_bpe`'s regex approximation. Adds ``out_col``
    (array<string> subwords, ``</w>``-terminated per word) and
    ``{out_col}_n`` (exact token count); with ``vocab`` (token -> id) adds
    ``{out_col}_ids`` (array<int>, OOV -> ``unk_id``).

    Arrow-batched ``pandas_udf`` with a per-executor word cache: Zipf
    means the overwhelming share of word instances hit the cache, so the
    per-word merge loop runs roughly once per DISTINCT word per executor.
    The merge-rank table ships once inside the serialized UDF (a merges
    table is ~10k-50k pairs, a few MB — broadcast-sized by construction).
    NULL text yields NULL columns. No shuffle: pure map-side."""
    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    cache: dict = {}

    @pandas_udf("array<string>")
    def _encode(s: pd.Series) -> pd.Series:
        out = []
        for t in s:
            if t is None:
                out.append(None)
                continue
            if lowercase:
                t = t.lower()
            toks: list = []
            for w in t.split():
                toks.extend(_bpe_word(w, ranks, cache))
            out.append(toks)
        return pd.Series(out)

    out = df.withColumn(out_col, _encode(F.col(text_col)))
    out = out.withColumn(f"{out_col}_n",
                         F.when(F.col(out_col).isNull(), None)
                          .otherwise(F.size(out_col)))
    if vocab is not None:
        # id lookup INSIDE a pandas_udf, not an F.create_map literal: a
        # realistic 32k-50k vocab as create_map means 64k-100k literal
        # child expressions evaluated per row — analysis/codegen blow up
        # and whole-stage codegen bails. The dict ships once per executor
        # in the serialized UDF, same as the merge-rank table above.
        @pandas_udf("array<int>")
        def _ids(arrs: pd.Series) -> pd.Series:
            g = vocab.get
            return pd.Series(
                [None if a is None else [g(t, unk_id) for t in a]
                 for a in arrs])
        out = out.withColumn(f"{out_col}_ids", _ids(F.col(out_col)))
    return out


def winnow_fingerprints(text: Column, *, k: int = 8, w: int = 4,
                        chunk_bytes: int = 8 << 20) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS algorithm): rolling k-gram hashes, keep the minimum hash of every
    window of ``w`` consecutive k-grams, distinct. Robust to local edits:
    two documents sharing a substring of ≥ k+w-1 chars share a fingerprint.

    Implementation is an Arrow-batched ``pandas_udf`` vectorized ACROSS
    documents: every doc in the batch is normalized and concatenated into
    ONE byte buffer, the rolling polynomial hash runs as k vectorized
    numpy ops over that single buffer (O(N·k) for the whole batch, with
    wrapping uint64 arithmetic — bit-identical to the per-doc law since a
    gram at position p only reads bytes p..p+k-1), grams that would span
    a document boundary are discarded by a doc-id mask, window minima
    come from one stride-tricks sliding view over the doc-major gram
    array (windows whose endpoints fall in different docs are masked),
    and per-doc dedup+split is a lexsort + searchsorted. A pure Catalyst
    higher-order-expression version was tried and rejected:
    ``substring(s, i, k)`` re-scans the UTF8 string to find codepoint i,
    making the k-gram stream O(n²) per document — minutes on multi-KB
    docs. This is the documented exception to expr-first (see README:
    "Python is a measured exception").

    Returns ``array<bigint>``; explode+groupBy to build the inverted index
    for substring-level near-dup candidate pairs at corpus scale."""
    from numpy.lib.stride_tricks import sliding_window_view

    from pyspark.sql.functions import pandas_udf

    B = np.uint64(1099511628211)  # FNV-1a prime as polynomial base

    # transient peak is ~24x the chunk's total text bytes (uint64 views of
    # the byte buffer + the hash array + one multiply temp); cap it so
    # multi-KB/MB documents cannot OOM an executor on a 10k-row Arrow
    # batch — results are chunk-invariant (chunks split on
    # document boundaries; pinned by test_winnow_chunk_invariance)
    _CHUNK_BYTES = max(1, chunk_bytes)

    @pandas_udf("array<bigint>")
    def _winnow(s: pd.Series) -> pd.Series:
        vals = list(s)
        out: list[list[int]] = []
        start = 0
        while start < len(vals):
            size, end = 0, start
            while end < len(vals) and (end == start or size < _CHUNK_BYTES):
                t = vals[end]
                size += len(t) if t is not None else 0
                end += 1
            out.extend(_winnow_chunk(vals[start:end]))
            start = end
        return pd.Series(out)

    def _winnow_chunk(vals: list) -> list:
        n_docs = len(vals)
        empty = [[] for _ in range(n_docs)]
        if n_docs == 0:
            return empty
        bufs, lens = [], np.zeros(n_docs, dtype=np.int64)
        for i, t in enumerate(vals):
            if t is None:
                continue
            bb = " ".join(t.lower().split()).encode("utf-8")
            bufs.append(bb)
            lens[i] = len(bb)
        starts = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(lens, out=starts[1:])
        nbytes = int(starts[-1])
        if nbytes < k:
            return empty
        buf = np.frombuffer(b"".join(bufs), dtype=np.uint8).astype(np.uint64)
        # ONE rolling-hash pass over the whole batch buffer
        h = np.zeros(nbytes - k + 1, dtype=np.uint64)
        for j in range(k):
            h = h * B + buf[j: j + nbytes - k + 1]
        # doc i owns grams at buffer positions starts[i]..starts[i]+lens[i]-k
        g_cnt = np.maximum(lens - k + 1, 0)
        tot_g = int(g_cnt.sum())
        if tot_g == 0:
            return empty
        g_starts = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(g_cnt, out=g_starts[1:])
        # gather valid (non-boundary-spanning) grams, doc-major
        within = np.arange(tot_g) - np.repeat(g_starts[:-1], g_cnt)
        H = h[np.repeat(starts[:-1], g_cnt) + within]
        dids = np.repeat(np.arange(n_docs), g_cnt)
        # full w-windows over all docs at once; a window starting at gram
        # q is valid iff grams q and q+w-1 live in the same doc (doc-major
        # contiguity makes endpoint equality sufficient)
        if tot_g >= w:
            wins = sliding_window_view(H, w).min(axis=1)
            valid = dids[: tot_g - w + 1] == dids[w - 1:]
            # run-collapse BEFORE the global sort: consecutive windows
            # usually share their minimum (expected distinct fraction is
            # 2/(w+1), Schleimer et al. §3), so dropping repeats of the
            # previous window's min cuts the lexsort input ~(w+1)/2 x.
            # Non-consecutive repeats within a doc still exist; the
            # lexsort+keep below removes those, so results are unchanged.
            first = np.ones(wins.size, dtype=bool)
            first[1:] = ((wins[1:] != wins[:-1])
                         | (dids[1: tot_g - w + 1] != dids[: tot_g - w]))
            valid &= first
            mins, mdid = wins[valid], dids[: tot_g - w + 1][valid]
        else:
            mins = np.empty(0, np.uint64)
            mdid = np.empty(0, np.int64)
        # docs with 0 < g_cnt < w: single fingerprint = min over all grams
        nz = np.flatnonzero(g_cnt > 0)
        short = g_cnt[nz] < w
        if short.any():
            doc_min = np.minimum.reduceat(H, g_starts[nz])
            mins = np.concatenate([mins, doc_min[short]])
            mdid = np.concatenate([mdid, nz[short]])
        # per-doc unique (ascending uint64, matching np.unique) + split
        order = np.lexsort((mins, mdid))
        sd, sm = mdid[order], mins[order]
        keep = np.ones(sd.size, dtype=bool)
        keep[1:] = (sd[1:] != sd[:-1]) | (sm[1:] != sm[:-1])
        sd, sm = sd[keep], sm[keep].view(np.int64)
        bounds = np.searchsorted(sd, np.arange(n_docs + 1))
        return [sm[bounds[i]: bounds[i + 1]].tolist()
                for i in range(n_docs)]

    return _winnow(text)


def md5_fingerprint(text: Column) -> Column:
    """Cross-engine-stable fingerprint (md5 hex) of normalized text."""
    norm = F.regexp_replace(F.lower(F.trim(text)), _WS, " ")
    return F.md5(norm)


def _staged_features(df: DataFrame, text_col: str):
    """Materialize the shared intermediates (trimmed text, lowercased token
    array) in ONE projection so every downstream feature reuses them.

    The naive composition (each feature calling ``F.split``/``regexp_replace``
    on the raw text) re-tokenizes per feature; Catalyst does not eliminate
    common higher-order subexpressions across lambda boundaries, so at
    document scale that multiplies the dominant cost (regex over the full
    text) by the feature count. Measured 2.5x on the sf0.1 documents table.
    """
    t = F.col(text_col)
    staged = df.withColumns({
        "__t__": F.trim(t),
        "__toks__": F.split(F.lower(F.trim(t)), _WS),
    })
    toks = F.col("__toks__")
    n_tok = _n_tokens(t, F.col("__t__"), toks)
    # token lengths are case-invariant for the ASCII corpora we target, so
    # the lowercased array serves both counting and length features
    atl = _avg_len(F.col("__t__"), toks)
    return staged, toks, n_tok, punct_ratio(t), atl


def _quality_from(n_tok: Column, pr: Column, atl: Column) -> Column:
    """:func:`quality_score` from the token count, punctuation ratio and
    mean token length; a NULL count (NULL text) scores NULL."""
    len_ok = F.when(n_tok.isNull(), F.lit(None).cast("double")) \
              .when((n_tok >= 5) & (n_tok <= 100000), 1.0).otherwise(0.0)
    pr0 = F.coalesce(pr, F.lit(0.0))
    punct_ok = F.when(pr0 <= 0.2, 1.0).otherwise(
        F.greatest(F.lit(0.0), 1.0 - (pr0 - 0.2) * 4.0))
    atl0 = F.coalesce(atl, F.lit(0.0))
    atl_ok = F.when((atl0 >= 2.0) & (atl0 <= 12.0), 1.0).otherwise(0.5)
    return (len_ok + punct_ok + atl_ok) / 3.0


def _lang_from(text: Column, toks: Column) -> Column:
    """:func:`lang_id` of ``text`` given its lowercased token array; the
    marker argmax is chained comparisons (ties go to the first language
    in ``_LANG_MARKERS``)."""
    has_cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", "")) > 0
    expr = F.lit("unknown")
    best = F.lit(0)
    for lang, markers in _LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        expr = F.when(score > best, F.lit(lang)).otherwise(expr)
        best = F.greatest(best, score)
    return F.when(has_cjk, F.lit("zh")).otherwise(expr)


def with_quality_lang(df: DataFrame, text_col: str = "text", *,
                      lang_col: str = "lang_pred", quality_col: str = "quality",
                      tokens_col: str = "n_tokens") -> DataFrame:
    """Language-ID + quality score + token count in one tokenize pass —
    the fused form of ``lang_id``/``quality_score``/``token_count`` for
    whole-corpus scans (identical results, one split instead of four)."""
    staged, toks, n_tok, pr, atl = _staged_features(df, text_col)
    return staged.withColumns({
        lang_col: _lang_from(F.col(text_col), toks),
        quality_col: _quality_from(n_tok, pr, atl),
        tokens_col: n_tok,
    }).drop("__t__", "__toks__")


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", *, chunk_size: int = 128,
                    overlap: int = 0, chunk_col: str = "chunk",
                    index_col: str = "chunk_idx") -> DataFrame:
    """Split documents into fixed-size token chunks with optional overlap —
    the standard pre-training/RAG preparation step (beyond-reference
    mandate; the reference has no chunking surface).

    Whitespace tokens; chunk i covers tokens [i*(chunk_size-overlap),
    ...+chunk_size). Pure Catalyst: split -> sequence of starts ->
    posexplode(slice) — one scan, rows fan out ~n_tokens/(chunk_size-
    overlap) per doc with no Python and no shuffle (the explode keeps the
    input partitioning; downstream groupBys shuffle as usual). Empty/blank
    docs produce zero chunks."""
    from ..dtutil import _let, ensure_parallelism
    df = ensure_parallelism(df)
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    step = chunk_size - overlap

    def _chunks_of(toks):
        # ``toks`` is _let-bound: inlined, the split re-ran once per
        # generated CHUNK (the transform lambda body re-evaluates its
        # whole subtree per element — O(len²/chunk_size) per row)
        n = F.size(toks)
        # Upper bound n - overlap - 1 (not n - 1): a start s with
        # s + overlap >= n yields a chunk fully contained in its
        # predecessor (the predecessor already covers through
        # s + overlap - 1), which would duplicate tokens in training
        # data. s = 0 is always kept via greatest(..., 0).
        starts = F.sequence(F.lit(0),
                            F.greatest(n - F.lit(overlap) - 1, F.lit(0)),
                            F.lit(step))
        return F.transform(starts, lambda s: F.array_join(
            F.slice(toks, s + 1, chunk_size), " "))

    chunks = _let(F.split(F.trim(F.col(text_col)), r"\s+"), _chunks_of)
    out = df.withColumn("__chunks__",
                        F.when(F.length(F.trim(F.col(text_col))) > 0, chunks)
                         .otherwise(F.array().cast("array<string>")))
    return (out.select(id_col,
                       F.posexplode("__chunks__").alias(index_col, chunk_col))
               .withColumn("n_tokens", F.size(F.split(F.col(chunk_col), r"\s+"))))


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", *,
                       top_ngram_ns=(2, 3, 4),
                       dup_ngram_ns=(5, 6, 7, 8, 9, 10)) -> DataFrame:
    """Full Gopher repetition battery (Rae et al. 2021 §A1.1, the filters
    behind "remove documents with excessive repetition" in most public LLM
    pipelines — Gopher/RefinedWeb/Dolma). ``gopher_quality`` carries only
    the top-bigram rule; this computes the complete signal set so callers
    can threshold each independently:

    - ``dup_line_frac`` / ``dup_line_char_frac``: fraction of line slots
      (resp. line characters) occupied by repeats beyond the first
      occurrence of each distinct line. Lines are ``\\n``-split, trimmed,
      empties dropped, case-preserved (duplicate lines are exact repeats).
    - ``dup_para_frac`` / ``dup_para_char_frac``: same over paragraphs
      (split on blank lines).
    - ``top_{n}gram_char_frac`` (n in ``top_ngram_ns``): characters covered
      by the single most frequent word n-gram — ``count * len(gram) /
      norm_chars`` where ``norm_chars`` is the length of the lowercased
      single-space-normalized text. Ties break to the lexicographically
      smallest gram (deterministic across engines/partitionings).
    - ``dup_{n}gram_char_frac`` (n in ``dup_ngram_ns``): characters covered
      by ALL n-grams occurring more than once, counting every occurrence.
      Overlapping occurrences double-count (the standard public
      approximation), so both gram fractions are capped at 1.0.

    NULL text propagates NULL through every signal column (consistent with
    the dedup family's NULL-is-never-a-duplicate law); empty/whitespace
    text yields zeros.

    Plan shape: the line/paragraph metrics never leave the row — split /
    array_distinct / aggregate are per-row Catalyst expressions, so that
    whole half is a pure one-scan projection. The gram metrics need per-doc
    multiplicity, which no per-row expression gives linearly (counting
    within the row via higher-order functions is O(grams²) per doc): ONE
    explode emits (id, n, gram) for every requested n — built on the
    shifted-slice ``_word_ngrams`` fold, O(k) array copies — then two
    map-side-combined groupBys ((id, n, gram) → (id, n) → id) reduce to a
    per-doc row joined back on id. Keys carry the doc id, so there are no
    corpus-hot keys (unlike global token tables) and no skew funnel; the
    exchange is linear in total gram count. Cites reference parity anchor:
    the reference has no repetition operators (parity-plus surface).
    """
    from ..dtutil import ensure_parallelism
    raw = df
    df = ensure_parallelism(df)
    text = F.col(text_col)

    # Every expensive array (line list, paragraph list, distinct lists,
    # token list) is projected ONCE into a named column before anything
    # consumes it: higher-order-function expressions are interpreted (no
    # whole-stage codegen, no common-subexpression elimination), so an
    # inlined `segs`/`toks` tree was re-split/lowered/trimmed at EVERY
    # reference — 32 `split` calls, each a full tokenization, per row in
    # the gram Generate's expression alone. Catalyst's
    # CollapseProject keeps these layers separate because the aliases are
    # non-cheap and multiply referenced.
    def _segs_expr(sep_regex):
        return F.filter(F.transform(F.split(text, sep_regex),
                                    lambda s: F.trim(s)),
                        lambda s: F.length(s) > 0)

    def _seg_metrics(prefix):
        segs = F.col(f"__{prefix}s__")
        dsegs = F.col(f"__d{prefix}s__")
        n = F.size(segs)
        tot = F.aggregate(segs, F.lit(0).cast("long"),
                          lambda a, x: a + F.length(x))
        dtot = F.aggregate(dsegs, F.lit(0).cast("long"),
                           lambda a, x: a + F.length(x))
        frac = F.when(n == 0, F.lit(0.0)).otherwise(
            1.0 - F.size(dsegs).cast("double") / n)
        cfrac = F.when(tot == 0, F.lit(0.0)).otherwise(
            1.0 - dtot.cast("double") / tot)
        return {f"n_{prefix}s": F.when(text.isNull(), None).otherwise(n),
                f"dup_{prefix}_frac": F.when(text.isNull(), None)
                                       .otherwise(frac),
                f"dup_{prefix}_char_frac": F.when(text.isNull(), None)
                                            .otherwise(cfrac)}

    toks = F.col("__toks__")
    norm_chars = F.when(F.size(toks) == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        + F.size(toks) - 1)
    base = (df.withColumns({"__lines__": _segs_expr(r"\n"),
                            "__paras__": _segs_expr(r"\n\s*\n"),
                            "__toks__": _tokens(text)})
              .withColumns({"__dlines__": F.array_distinct("__lines__"),
                            "__dparas__": F.array_distinct("__paras__")})
              .withColumns({
                  **_seg_metrics("line"),
                  **_seg_metrics("para"),
                  "__nc__": norm_chars,
              })
              .drop("__lines__", "__paras__", "__dlines__", "__dparas__",
                    "__toks__"))

    ns = sorted(set(top_ngram_ns) | set(dup_ngram_ns))

    def _tagged(n):
        # single-arg lambda is load-bearing: a 2-arg transform lambda is
        # interpreted as (element, index) and would shadow n with the index
        return F.transform(_ngrams_from_tokens(F.col("__toks__"), n),
                           lambda g: F.struct(F.lit(n).alias("n"),
                                              g.alias("g")))

    pairs = F.concat(*[_tagged(n) for n in ns])
    # ONE exchange for the whole gram branch: hash-partitioning by
    # id alone satisfies the clustering requirement of all three
    # downstream groupBys ((id,n,g) → (id,n) → id — each keys on a
    # superset of {id}), so the un-numbered (AQE-coalescible) repartition
    # here replaces three successive aggregate exchanges AND the
    # ensure_parallelism round-robin (it sources ``raw``, not the
    # repartitioned frame). It shuffles raw text (pre-explode, ~1/len(ns)
    # of the gram rows the first aggregate exchange used to carry) and
    # tokenizes AFTER the shuffle so the expensive pass runs at full
    # parallelism; doc ids are unskewed keys.
    ex = (raw.select(F.col(id_col), text)
             .repartition(F.col(id_col))
             .select(F.col(id_col), _tokens(text).alias("__toks__"))
             .select(F.col(id_col), F.explode(pairs).alias("p"))
             .select(id_col, F.col("p.n").alias("__n__"),
                     F.col("p.g").alias("__g__")))
    counts = ex.groupBy(id_col, "__n__", "__g__") \
               .agg(F.count(F.lit(1)).alias("__c__"))
    # deterministic top gram: min over (-count, gram) = highest count,
    # then lexicographically smallest
    per_n = counts.groupBy(id_col, "__n__").agg(
        F.min(F.struct((-F.col("__c__")).alias("nc"),
                       F.col("__g__").alias("g"))).alias("__top__"),
        F.sum(F.when(F.col("__c__") >= 2,
                     F.col("__c__") * F.length("__g__"))
               .otherwise(F.lit(0))).alias("__dupc__"))
    per_n = per_n.select(
        id_col, "__n__",
        ((-F.col("__top__.nc")) * F.length("__top__.g")).alias("__topc__"),
        "__dupc__")
    per_doc = per_n.groupBy(id_col).agg(
        *[F.max(F.when(F.col("__n__") == n, F.col("__topc__")))
           .alias(f"__top{n}__") for n in top_ngram_ns],
        *[F.max(F.when(F.col("__n__") == n, F.col("__dupc__")))
           .alias(f"__dup{n}__") for n in dup_ngram_ns])
    # per_doc is one row per document (corpus-sized): plain shuffle join
    out = base.join(per_doc, id_col, "left")

    def _frac(chars_col):
        f = F.when(F.col("__nc__") == 0, F.lit(0.0)).otherwise(
            F.least(F.lit(1.0),
                    F.coalesce(chars_col.cast("double"), F.lit(0.0))
                    / F.col("__nc__")))
        return F.when(text.isNull(), None).otherwise(f)

    out = out.withColumns({
        **{f"top_{n}gram_char_frac": _frac(F.col(f"__top{n}__"))
           for n in top_ngram_ns},
        **{f"dup_{n}gram_char_frac": _frac(F.col(f"__dup{n}__"))
           for n in dup_ngram_ns},
    })
    return out.drop("__nc__", *[f"__top{n}__" for n in top_ngram_ns],
                    *[f"__dup{n}__" for n in dup_ngram_ns])


def gopher_quality(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", *,
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   min_alpha_word_frac: float = 0.8,
                   min_stopwords: int = 2,
                   max_top_bigram_frac: float = 0.2) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1 — public
    heuristics used by most LLM data pipelines): per-rule boolean columns
    plus an overall ``quality_pass``.

    Rules (plain-text subset; line-based rules need newline-preserving
    corpora): word-count band, mean-word-length band, fraction of words
    containing an alphabetic character, minimum stop-word hits, and
    repetition — the fraction of the document covered by its single most
    frequent word bigram.

    Plan: every rule except repetition is a pure Column expression in ONE
    scan. Repetition needs a per-doc top-bigram count: explode bigrams ->
    two-level groupBy (map-side combined) -> max count, broadcast-joined
    back — the same shuffle-by-id shape as simhash_df, linear in corpus
    size.

    The token array is materialized ONCE (a withColumn projection barrier;
    CollapseProject keeps it because the non-cheap split is referenced by
    several consumers) and every rule plus the bigram branch derives from
    that column — an inline form re-split the text into each of the
    ~6 consuming expressions, multiplying both the per-row regex cost and
    the codegen-compile fixed cost (an 11.8 s cold run on
    corpus_composition was dominated by recompiling that duplicated
    tree). The lowercased array serves mean-word-length too — exactly the
    oracle's law (the DuckDB replay computes mean_len from the same
    lowered token list)."""
    from ..dtutil import ensure_parallelism
    from ..operators.selection import _free_name
    df = ensure_parallelism(df)
    tok_name = _free_name(df.columns, "__gq_toks__")
    base = df.withColumn(
        tok_name, F.split(F.lower(F.trim(F.col(text_col))), _WS))
    toks = F.col(tok_name)
    n = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    mean_len = F.coalesce(
        F.when(F.length(F.trim(F.col(text_col))) == 0,
               F.lit(None).cast("double"))
         .otherwise(total_len.cast("double") / n),
        F.lit(0.0))
    alpha_frac = F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / n)
    sw_hits = F.size(F.filter(
        toks, lambda t: F.array_contains(
            F.array(*[F.lit(w) for w in
                      ("the", "a", "an", "and", "or", "of", "to", "in",
                       "is", "it")]), t)))

    out = base.withColumns({
        "n_words": n,
        "rule_word_count": (n >= min_words) & (n <= max_words),
        "rule_mean_word_len": (mean_len >= min_mean_word_len)
                              & (mean_len <= max_mean_word_len),
        "rule_alpha_words": alpha_frac >= min_alpha_word_frac,
        "rule_stopwords": sw_hits >= min_stopwords,
    }).drop(tok_name)

    bigrams = F.filter(
        F.transform(F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.element_at(toks, i + 1),
                                          F.element_at(toks, i + 2))),
        lambda s: s != "")
    bg = base.select(F.col(id_col), F.size(toks).alias("__nb__"),
                     F.explode_outer(bigrams).alias("__g__"))
    top = (bg.groupBy(id_col, "__g__").agg(F.count(F.lit(1)).alias("__c__"),
                                           F.first("__nb__").alias("__nb__"))
             .groupBy(id_col).agg(F.max("__c__").alias("__top__"),
                                  F.first("__nb__").alias("__nb__")))
    rep = top.select(
        id_col,
        F.when(F.col("__nb__") <= 1, F.lit(0.0))
         .otherwise(F.col("__top__") * 2.0 / F.greatest(F.col("__nb__"), F.lit(1)))
         .alias("top_bigram_frac"))
    # rep is one row per document (corpus-sized) — a plain shuffle join,
    # NEVER a broadcast
    out = out.join(rep, id_col, "left") \
             .withColumn("top_bigram_frac",
                         F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))) \
             .withColumn("rule_repetition",
                         F.col("top_bigram_frac") <= max_top_bigram_frac)
    return out.withColumn(
        "quality_pass",
        F.col("rule_word_count") & F.col("rule_mean_word_len")
        & F.col("rule_alpha_words") & F.col("rule_stopwords")
        & F.col("rule_repetition"))


def _vocab_totals(table: DataFrame, *totals: Column) -> tuple[DataFrame, Row]:
    """Materialize the vocab-sized count ``table`` and collect one row of
    ``totals`` over it. The table is built once: without the checkpoint
    its corpus explode + groupBy lineage runs again for every later
    reader (the scoring join), a full duplicate corpus scan at 100 TB.
    Lazy: the totals collect, one linear job, is its first reader and
    stores it for the readers after it; an eager checkpoint ran one job
    more per table."""
    table = materialize(table, eager=False)
    return table, table.agg(*totals).collect()[0]


def _broadcast_vocab(op: str, what: str, size: float, cap: int,
                     *tables: DataFrame) -> list[DataFrame]:
    """``tables`` with a broadcast hint when ``size`` <= ``cap``. The
    exploded corpus side is petabyte-scale with mega-hot stopword keys, so
    a shuffled join on the vocab key funnels every occurrence of "the"
    through one reducer; above ``cap`` the tables come back as they are
    (a shuffled join, to guard executor memory) with a RuntimeWarning."""
    if size <= cap:
        return [F.broadcast(t) for t in tables]
    warnings.warn(
        f"{op}: {int(size)} {what} exceed broadcast_vocab_max={cap}; "
        f"falling back to a shuffled join — expect stopword skew (enable "
        f"AQE skew-join mitigation).", RuntimeWarning, stacklevel=3)
    return list(tables)


def _bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row (id, __w1__, __w2__) per bigram position of ``text_col``:
    the shifted-slice zip (O(1) array copies per doc — the shingles k=2
    trick, never a per-index substring loop). ``_let`` binds the token
    array once: inlined, the split+filter re-ran at every slice/size
    reference (~6x per row)."""
    pairs = _let(_tokens(F.col(text_col)), lambda t: F.zip_with(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
    return (df.select(F.col(id_col), F.explode(pairs).alias("__bg__"))
              .select(id_col, F.col("__bg__.w1").alias("__w1__"),
                      F.col("__bg__.w2").alias("__w2__")))


def unigram_logprob_score(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", *,
                          smoothing: float = 0.5,
                          broadcast_vocab_max: int = 30_000_000) -> DataFrame:
    """Corpus-relative unigram language-model score per document — the
    CCNet-style perplexity proxy (Wenzek et al. 2020 score documents with
    an LM; a unigram model built from the corpus itself is the
    vocabulary-free analog): mean negative log2 probability per token,
    lower = more typical of the corpus.

    Plan: one explode->groupBy builds the token frequency table (map-side
    combined, linear shuffle), then the scoring join BROADCASTS the
    frequency table: it is vocab-sized (tokens are Zipfian — vocab grows
    ~O(corpus^0.5), tens of millions of entries at 100 TB, a few hundred
    MB of (token, count) pairs), while the exploded corpus side is
    petabyte-scale with mega-hot stopword keys ("the"/"and"). A shuffled
    token-keyed join would funnel every occurrence of "the" through one
    reducer; the broadcast map-side join has no shuffle and no skew by
    construction. ``broadcast_vocab_max`` guards executor memory: above
    it we fall back to a shuffle join with salt-free AQE skew handling and
    warn. One groupBy(id) then averages. p(w) is Lidstone-smoothed:
    (c_w + a) / (N + a*V). All JVM-side."""
    from ..dtutil import ensure_parallelism
    raw = df
    df = ensure_parallelism(df)
    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS)
    ex = (df.select(F.col(id_col), F.explode(toks).alias("__w__"))
            .filter(F.length("__w__") > 0))
    freq, totals = _vocab_totals(
        ex.groupBy("__w__").agg(F.count(F.lit(1)).alias("__c__")),
        F.sum("__c__").alias("__N__"), F.count(F.lit(1)).alias("__V__"))
    n_total, vocab = float(totals["__N__"] or 0), float(totals["__V__"] or 1)
    freq, = _broadcast_vocab("unigram_logprob_score", "vocabulary tokens",
                             vocab, broadcast_vocab_max, freq)
    denom = n_total + smoothing * vocab
    logp = F.log2((F.col("__c__") + F.lit(smoothing)) / F.lit(denom))
    scored = (ex.join(freq, "__w__")
                .groupBy(id_col)
                .agg((-F.avg(logp)).alias("bits_per_token"),
                     F.count(F.lit(1)).alias("n_scored_tokens")))
    # join back from the RAW frame: the ensure_parallelism round-robin
    # only pays for the per-row explode work above — on this side the
    # join's own exchange provides the distribution, and the stacked
    # round-robin + hash exchanges were pure waste
    return raw.join(scored, id_col, "left")


def bigram_logprob_score(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", *, lam: float = 0.75,
                         smoothing: float = 0.5,
                         broadcast_vocab_max: int = 30_000_000) -> DataFrame:
    """Corpus-relative INTERPOLATED BIGRAM language-model score per
    document — one order up from :func:`unigram_logprob_score` on the
    CCNet-style perplexity ladder (Wenzek et al. 2020 filter on KenLM
    perplexity; a corpus-self-trained interpolated bigram is the honest
    distributed mini version, and ranks burst-repetitive text that a
    unigram LM scores as perfectly typical):

        p(w2 | w1) = lam * C(w1,w2)/C(w1)
                   + (1-lam) * (C(w2)+a)/(N+a*V)     (Jelinek-Mercer)

    mean -log2 p over a document's bigram positions; docs with < 2
    tokens score NULL with n_bigrams = 0.

    Plan shape (all JVM-side): bigram arrays come from the shifted-slice
    zip (O(1) array copies per doc — the shingles k=2 trick, never a
    per-index substring loop); ONE explode feeds both the corpus bigram
    frequency table and the scoring side; the unigram table is reused
    for C(w1) and C(w2). Both frequency tables are Zipfian-vocab-sized
    and broadcast under ``broadcast_vocab_max`` (the exploded corpus
    side has mega-hot stopword keys — a shuffled join would funnel
    every "of the" through one reducer); above the cap we fall back to
    a shuffled join with a warning, same contract as unigram. Both
    tables are materialized so the corpus explode lineage runs once, not
    once per consumer."""
    from ..dtutil import ensure_parallelism
    raw = df
    df = ensure_parallelism(df)
    ex = _bigrams(df, id_col, text_col)
    # lazy: its first reader is one branch of the scoring join
    bfreq = materialize(ex.groupBy("__w1__", "__w2__")
                          .agg(F.count(F.lit(1)).alias("__c12__")),
                        eager=False)
    ufreq, totals = _vocab_totals(
        df.select(F.explode(_tokens(F.col(text_col))).alias("__w__"))
          .groupBy("__w__").agg(F.count(F.lit(1)).alias("__c__")),
        F.sum("__c__").alias("N"), F.count(F.lit(1)).alias("V"))
    n_total, vocab = float(totals["N"] or 0), float(totals["V"] or 1)
    # bigram TYPE count is bounded by min(V^2, token positions) — both
    # already collected — so the broadcast decision usually needs no
    # extra job; the exact bfreq.count() runs only when the cheap bound
    # is inconclusive (identical broadcast behavior at the cap, one
    # fewer planning action in the common case)
    nb = min(vocab * vocab, n_total)
    if nb > broadcast_vocab_max:
        nb = bfreq.count()
    bfreq, ufreq = _broadcast_vocab(
        "bigram_logprob_score", "bigram or token types", max(nb, vocab),
        broadcast_vocab_max, bfreq, ufreq)
    denom = n_total + smoothing * vocab
    u1 = ufreq.select(F.col("__w__").alias("__w1__"),
                      F.col("__c__").alias("__c1__"))
    u2 = ufreq.select(F.col("__w__").alias("__w2__"),
                      F.col("__c__").alias("__c2__"))
    p = (F.lit(lam) * F.col("__c12__") / F.col("__c1__")
         + F.lit(1.0 - lam) * (F.col("__c2__") + F.lit(smoothing))
         / F.lit(denom))
    scored = (ex.join(bfreq, ["__w1__", "__w2__"])
                .join(u1, "__w1__").join(u2, "__w2__")
                .groupBy(id_col)
                .agg((-F.avg(F.log2(p))).alias("bits_per_bigram"),
                     F.count(F.lit(1)).alias("n_bigrams")))
    # raw side: the join's own exchange distributes; no round-robin
    out = raw.join(scored, id_col, "left")
    return out.withColumn("n_bigrams",
                          F.coalesce(F.col("n_bigrams"), F.lit(0)))


def kneser_ney_bigram_score(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", *,
                            discount: float = 0.75,
                            broadcast_vocab_max: int = 30_000_000
                            ) -> DataFrame:
    """Corpus-relative INTERPOLATED KNESER-NEY bigram score per document
    — the publication-standard smoothing (Kneser & Ney 1995; Chen &
    Goodman 1999) above :func:`bigram_logprob_score`'s Jelinek-Mercer
    rung on the CCNet-style perplexity ladder. KN's continuation
    probability ranks words by how many CONTEXTS they follow rather
    than raw frequency, so boilerplate tokens that are frequent in one
    template ("Reserved" after "Rights") stop looking typical:

        P(w2|w1) = max(C(w1,w2) - D, 0) / C(w1)
                 + D * N1+(w1,*) / C(w1) * N1+(*,w2) / B

    with C(w1) summed over bigram positions, N1+(w1,*) / N1+(*,w2) the
    distinct-successor / distinct-predecessor type counts, and B the
    total bigram type count. Emits mean -log2 P over a document's
    bigram positions (``kn_bits_per_bigram``) + ``n_bigrams``; < 2
    tokens scores NULL with n_bigrams = 0.

    Plan shape mirrors :func:`bigram_logprob_score`: ONE corpus explode
    (shifted-slice zip bigrams) feeds the bigram table; the left/right
    KN tables are groupBys OVER that vocab-sized table, not the corpus;
    everything is checkpointed and broadcast under
    ``broadcast_vocab_max`` (stopword-pair keys make a shuffled join a
    skew trap), shuffled with a warning above it. B comes from one
    1-row agg over the materialized bigram table."""
    from ..dtutil import ensure_parallelism
    raw = df
    df = ensure_parallelism(df)
    ex = _bigrams(df, id_col, text_col)
    bfreq, tot = _vocab_totals(
        ex.groupBy("__w1__", "__w2__").agg(F.count(F.lit(1)).alias("__c12__")),
        F.count(F.lit(1)).alias("B"), F.sum("__c12__").alias("P"))
    n_btypes, n_positions = float(tot["B"] or 1), float(tot["P"] or 0)
    lfreq = (bfreq.groupBy("__w1__")
                  .agg(F.sum("__c12__").alias("__c1__"),
                       F.count(F.lit(1)).alias("__n1l__")))
    rfreq = bfreq.groupBy("__w2__").agg(F.count(F.lit(1)).alias("__n1r__"))
    bfreq, lfreq, rfreq = _broadcast_vocab(
        "kneser_ney_bigram_score", "bigram types or positions",
        max(n_btypes, n_positions), broadcast_vocab_max, bfreq, lfreq, rfreq)
    d = F.lit(float(discount))
    p = (F.greatest(F.col("__c12__") - d, F.lit(0.0)) / F.col("__c1__")
         + d * F.col("__n1l__") / F.col("__c1__")
         * F.col("__n1r__") / F.lit(n_btypes))
    scored = (ex.join(bfreq, ["__w1__", "__w2__"])
                .join(lfreq, "__w1__").join(rfreq, "__w2__")
                .groupBy(id_col)
                .agg((-F.avg(F.log2(p))).alias("kn_bits_per_bigram"),
                     F.count(F.lit(1)).alias("n_bigrams")))
    # raw side: the join's own exchange distributes; no round-robin
    out = raw.join(scored, id_col, "left")
    return out.withColumn("n_bigrams",
                          F.coalesce(F.col("n_bigrams"), F.lit(0)))


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", *, top_k: int = 5,
                    min_df: int = 1, max_df_ratio: float = 1.0,
                    broadcast_idf: bool = True) -> DataFrame:
    """Per-document TF-IDF with top-``top_k`` characteristic terms — the
    classic corpus-analytics primitive (keyword extraction, topic
    labeling, near-dup triage).

    tf(t, d) = count(t in d) / len(d); idf(t) = ln((1 + D) / (1 + df_t)) + 1
    (smoothed, sklearn-convention); score = tf · idf.

    Plan shape (same scale discipline as :func:`unigram_logprob_score`):

    1. one explode -> groupBy(id, token) computes every tf — map-side
       combined, the shuffle is keyed by (doc, token) so stopwords can't
       hot-key a single reducer (doc id spreads them);
    2. the DOCUMENT-FREQUENCY table is vocab-sized -> built by a second
       groupBy over the (already aggregated, one row per doc×distinct-term)
       tf table, never by re-exploding the corpus;
    3. idf joins back BROADCAST by default (vocab-sized vs corpus-sized,
       identical skew argument to the unigram LM); pass
       ``broadcast_idf=False`` for a pathological vocabulary that cannot
       fit executor memory (the join then shuffles, but its left side is
       the aggregated tf table — one row per doc×distinct-term — not the
       raw exploded corpus, so stopword keys are already doc-spread);
    4. top-k per document via a window over (doc) — partition-pruned,
       k rows survive per doc.

    ``min_df`` / ``max_df_ratio`` drop too-rare / too-common terms BEFORE
    the join (the standard vocabulary pruning — also the skew guard for
    degenerate corpora where one token dominates). ``n_docs`` is taken
    from ``df.count()`` — a metadata-cheap action (docs with no tokens
    still count toward D, the sklearn convention) — so building the plan
    never triggers the corpus explode."""
    from pyspark.sql import Window as W

    from ..dtutil import ensure_parallelism
    raw = df
    df = ensure_parallelism(df)
    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS)
    ex = (df.select(F.col(id_col), F.explode(toks).alias("term"))
            .filter(F.length("term") > 0))
    tf = (ex.groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("__tc__")))
    doclen = W.partitionBy(id_col)
    tf = tf.withColumn("tf", F.col("__tc__")
                       / F.sum("__tc__").over(doclen))
    # count the RAW frame: a count over the round-robin-repartitioned one
    # pays a full corpus shuffle first; the value is identical
    n_docs = raw.count()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df__"))
    dfreq = dfreq.filter(
        (F.col("__df__") >= min_df)
        & (F.col("__df__") <= int(max_df_ratio * n_docs)))
    idf = dfreq.withColumn(
        "idf", F.log((1.0 + n_docs) / (1.0 + F.col("__df__"))) + 1.0) \
        .select("term", "idf")
    if broadcast_idf:
        idf = F.broadcast(idf)
    scored = tf.join(idf, "term").withColumn(
        "tfidf", F.col("tf") * F.col("idf"))
    rank = F.row_number().over(
        W.partitionBy(id_col).orderBy(F.col("tfidf").desc(),
                                      F.col("term").asc()))
    return (scored.withColumn("term_rank", rank)
                  .filter(F.col("term_rank") <= top_k)
                  .select(id_col, "term", "tf", "idf", "tfidf", "term_rank"))


def bm25_search(df: DataFrame, query: str, text_col: str = "text",
                id_col: str = "doc_id", *, k1: float = 1.2, b: float = 0.75,
                top_k: int | None = None) -> DataFrame:
    """Okapi BM25 ranked retrieval over a corpus — the standard lexical
    search/reranking primitive every RAG and eval pipeline needs (the
    reference has no retrieval surface; beyond-reference mandate).

    Query terms are the distinct lowercase whitespace tokens of ``query``.
    For each document: score = Σ_t idf(t) · tf / (tf + k1·(1 − b +
    b·|d|/avgdl)) with idf(t) = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
    (Lucene's non-negative variant) — N counts all rows (NULL/empty text
    scores 0 and is excluded from output), |d| is the whitespace token
    count, avgdl its corpus mean over non-empty docs.

    Plan shape — built for a handful of query terms against a 100 TB
    corpus, which is what makes BM25 special-casable vs generic TF-IDF:

    1. ONE projection computes |d| plus per-term tf as
       ``size(filter(tokens, x = term))`` — q array scans per row, all
       whole-stage codegen; the corpus is NEVER exploded (the generic
       explode→groupBy(token) plan of :func:`tfidf_top_terms` would
       shuffle petabytes to score q terms).
    2. That slim (id, len, tf…) projection is materialized, so the
       corpus text is scanned exactly once; corpus stats (N, avgdl, df_t)
       are ONE tiny whole-table aggregate over it.
    3. The 1-row stats frame joins back via broadcast cross join; the
       score is a pure column expression. No shuffle anywhere except
       ``top_k``'s TakeOrderedAndProject (when requested).

    Ordering: score desc, then ``id_col`` asc (deterministic ties).
    Returns (id, score) for score > 0 — with ``top_k`` set, at most that
    many rows via TakeOrdered, never a full sort."""
    from ..dtutil import ensure_parallelism
    df = ensure_parallelism(df)
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("bm25_search: query has no tokens")
    t = F.trim(F.lower(F.col(text_col)))
    toks = F.when(F.coalesce(F.length(t), F.lit(0)) == 0,
                  F.array().cast("array<string>")) \
            .otherwise(F.split(t, _WS))
    def _tf(trm):
        # factory, not a default-arg lambda: a 2-arg lambda would make
        # F.filter bind (element, INDEX) and shadow the default
        return F.size(F.filter(F.col("__tk__"), lambda x: x == F.lit(trm)))

    # token array projected ONCE: inlined, the trim+lower+split re-ran
    # per query term (q+1 references, no CSE in HOF evaluation)
    base = df.select(F.col(id_col), toks.alias("__tk__")).select(
        F.col(id_col),
        F.size("__tk__").alias("__len__"),
        *[_tf(trm).alias(f"__tf{i}__") for i, trm in enumerate(terms)])
    # one corpus scan: the stats aggregate AND the scoring join read this
    # slim (id, len, tf…) table in one action
    base = materialize(base)
    stats = base.agg(
        F.count(F.lit(1)).alias("__N__"),
        F.avg(F.when(F.col("__len__") > 0, F.col("__len__")))
         .alias("__avgdl__"),
        *[F.sum((F.col(f"__tf{i}__") > 0).cast("long")).alias(f"__df{i}__")
          for i in range(len(terms))])
    joined = base.join(F.broadcast(stats))
    parts = []
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}__").cast("double")
        idf = F.log(1.0 + (F.col("__N__") - F.col(f"__df{i}__") + 0.5)
                    / (F.col(f"__df{i}__") + 0.5))
        denom = tf + k1 * (1.0 - b + b * F.col("__len__")
                           / F.col("__avgdl__"))
        parts.append(idf * tf / denom)
    score = sum(parts[1:], parts[0])
    out = (joined.withColumn("score", score)
                 .filter(F.col("score") > 0)
                 .select(id_col, "score"))
    if top_k is not None:
        return out.orderBy(F.col("score").desc(), F.col(id_col).asc()) \
                  .limit(top_k)
    return out.orderBy(F.col("score").desc(), F.col(id_col).asc())


def heavy_hitters(df: DataFrame, col: str, *, k: int = 20,
                  method: str = "exact",
                  counters: int | None = None) -> DataFrame:
    """Top-``k`` most frequent values of ``col`` (corpus heavy hitters —
    vocabulary heads, hot keys, dominant sources). Two strategies:

    - ``method="exact"``: groupBy count → TakeOrdered k. One shuffle whose
      reduce side is vocab-sized; map-side partial aggregation means the
      exchange carries one row per (partition, distinct value), NOT per
      input row. The right default whenever the value domain fits a
      reducer (vocabularies, keys, categories).
    - ``method="mg"``: Misra-Gries summaries — each partition keeps at
      most ``counters`` (default 8k) counters in one Python pass, then the
      per-partition summaries (≤ counters × partitions rows, independent
      of input size) merge in one tiny groupBy. Mergeable-summaries
      guarantee (Agarwal et al., PODS'12): every value with true count
      > n/counters survives, and each reported count understates the true
      count by at most n/counters. For domains too wide to shuffle
      (URLs, raw n-grams at corpus scale), this bounds memory AND
      exchange size at the cost of approximate counts.

    Returns (value, count, rank) — for "mg", count is the guaranteed
    LOWER bound described above. Ties break on value ascending for
    deterministic output."""
    src = df.select(F.col(col).alias("value")).filter(F.col("value").isNotNull())
    if method == "exact":
        counts = src.groupBy("value").agg(F.count(F.lit(1)).alias("count"))
    elif method == "mg":
        m = counters or 8 * k
        import pandas as pd

        def _mg(batches):
            cnt: dict = {}
            for pdf in batches:
                for v in pdf["value"]:
                    if v in cnt:
                        cnt[v] += 1
                    elif len(cnt) < m:
                        cnt[v] = 1
                    else:
                        # decrement-all step; drop zeros (classic MG)
                        dead = []
                        for key in cnt:
                            cnt[key] -= 1
                            if cnt[key] == 0:
                                dead.append(key)
                        for key in dead:
                            del cnt[key]
            if cnt:
                yield pd.DataFrame({"value": list(cnt.keys()),
                                    "count": list(cnt.values())})

        schema = f"value {df.schema[col].dataType.simpleString()}, count long"
        summaries = src.mapInPandas(_mg, schema)
        counts = summaries.groupBy("value").agg(F.sum("count").alias("count"))
    else:
        raise ValueError(f"unknown heavy_hitters method: {method!r}")
    from pyspark.sql import Window as W
    ranked = counts.orderBy(F.col("count").desc(), F.col("value").asc()) \
                   .limit(k)
    # rank window runs over the k surviving rows only (post-TakeOrdered)
    return ranked.withColumn(
        "rank", F.row_number().over(
            W.orderBy(F.col("count").desc(), F.col("value").asc())))


def ccnet_buckets(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", *, by: str | None = None,
                  n_buckets: int = 3, **score_kw) -> DataFrame:
    """CCNet quality buckets (Wenzek et al. 2020 §4.3): rank documents by
    LM score within each group (language, in CCNet) and split into
    ``n_buckets`` equal tiers — head / middle / tail for the default 3.
    Training mixes keep head+middle and drop or downweight tail.

    Scoring is :func:`unigram_logprob_score` (lower bits/token = more
    corpus-typical). Ranking uses the score ROUNDED to 4 decimals with the
    doc id as tiebreak, making bucket assignment deterministic and
    engine-portable (a raw-double order would flip on ULP differences).
    Unscored docs (NULL/empty text) sort last and get a NULL label.

    Pass ``by`` (e.g. the language column) to keep the ntile window
    partitioned — the CCNet semantics AND the scale requirement; without
    it the global ranking funnels one task and warns."""
    from ..dtutil import warn_unpartitioned
    from pyspark.sql import Window
    scored = unigram_logprob_score(df, text_col, id_col, **score_kw)
    s = F.round(F.col("bits_per_token"), 4)
    if by is None:
        warn_unpartitioned("ccnet_buckets")
        w = Window.orderBy(s.asc_nulls_last(), F.col(id_col))
    else:
        w = Window.partitionBy(by).orderBy(s.asc_nulls_last(), F.col(id_col))
    bucket = F.ntile(n_buckets).over(w)
    labels = {1: "head", 2: "middle", 3: "tail"} if n_buckets == 3 else {}
    lab = bucket.cast("string")
    for k, v in labels.items():
        lab = F.when(bucket == k, v).otherwise(lab)
    return scored.withColumn(
        "ppl_bucket",
        F.when(F.col("bits_per_token").isNull(), None).otherwise(lab))


def dataset_card(df: DataFrame, text_col: str = "text", *,
                 by: str | None = None) -> DataFrame:
    """Corpus summary card (the numbers a dataset release documents —
    HF dataset cards / Dolma-style reports), long format: one row per
    (group, metric). Metrics: ``n_docs``, ``null_text_frac``,
    ``total_tokens`` / ``mean_tokens`` / ``p50_tokens`` / ``p95_tokens``,
    ``mean_chars``, and ``exact_dup_frac`` (share of non-null docs whose
    normalized-text fingerprint also appears on an EARLIER doc — the mass
    exact dedup would remove). ``by`` adds per-group rows (e.g. per
    language) alongside the ``group='all'`` rows.

    Plan shape: one projection computes token count / char count /
    fingerprint, then ONE aggregate per grouping (overall + by) — token
    percentiles use ``percentile_approx`` (sketch, mergeable, the 100 TB
    path) and the dup share uses ``count_distinct`` (two-phase partial
    aggregation). The result is metric-count-sized."""
    t = F.col(text_col)
    base = df.withColumns({
        "__nt__": F.when(t.isNull() | (F.length(F.trim(t)) == 0), F.lit(0))
                   .otherwise(F.size(F.split(F.trim(t), _WS))).cast("long"),
        "__nc__": F.coalesce(F.length(t), F.lit(0)).cast("long"),
        # the SHARED dedup fingerprint law (md5_fingerprint: lowercase,
        # trim, COLLAPSE whitespace) — exact_dup_frac must report the
        # mass exact_dedup would actually remove, and 'a  b' vs 'a b'
        # are duplicates under that law
        "__fp__": md5_fingerprint(t),
    })
    metrics = [
        ("n_docs", F.count(F.lit(1))),
        ("null_text_frac", F.avg(t.isNull().cast("double"))),
        ("total_tokens", F.sum("__nt__")),
        ("mean_tokens", F.avg("__nt__")),
        ("p50_tokens", F.percentile_approx("__nt__", 0.5)),
        ("p95_tokens", F.percentile_approx("__nt__", 0.95)),
        ("mean_chars", F.avg("__nc__")),
        ("exact_dup_frac",
         F.when(F.sum(t.isNotNull().cast("long")) == 0, F.lit(0.0))
          .otherwise(1.0 - F.count_distinct(F.col("__fp__"))
                     .cast("double") / F.sum(t.isNotNull().cast("long")))),
    ]
    stack = ", ".join(f"'{n}', `__m{i}__`" for i, (n, _) in enumerate(metrics))

    maggs = [m.cast("double").alias(f"__m{i}__")
             for i, (_, m) in enumerate(metrics)]
    melt = f"stack({len(metrics)}, {stack}) as (metric, value)"
    # global agg (not groupBy(lit)) so an EMPTY corpus still reports one
    # n_docs=0 row instead of vanishing
    out = (base.agg(*maggs)
               .selectExpr("'all' as group", melt)
               .withColumn("value", F.coalesce(F.col("value"), F.lit(0.0))))
    if by is not None:
        grouped = (base.groupBy(F.col(by).cast("string").alias("group"))
                       .agg(*maggs).selectExpr("group", melt))
        out = out.unionByName(grouped)
    return out


def filter_funnel(df: DataFrame, rules: "dict[str, Column]"
                  ) -> "tuple[DataFrame, DataFrame]":
    """Sequential quality-filter funnel with per-rule drop accounting —
    the standard report every filtering pipeline publishes (which rule
    removed how much, in order). ``rules`` maps rule name -> boolean
    KEEP-Column, applied in dict order.

    Returns ``(filtered_df, report_df)``. The report has one row per rule
    (ordered by ``stage``): ``n_in`` rows entering the stage, ``n_dropped``
    removed BY this rule given everything before it passed, ``n_out``
    surviving, plus the final retention fraction per stage. A NULL rule
    verdict counts as a drop (unknown quality never passes a gate).

    Plan shape: ONE scan and ONE tiny aggregate for the whole funnel —
    each stage's survival is a conjunction column, so the per-stage counts
    are conditional sums in a single ``agg`` (no per-rule jobs, no
    re-scans); the filtered output reuses the same conjunction predicate.
    The report is rule-count-sized: collect-free to build, trivially small.
    """
    names = list(rules)
    keeps = [F.coalesce(rules[n].cast("boolean"), F.lit(False))
             for n in names]
    # cum[i] = survived rules 0..i
    cums, acc = [], None
    for kc in keeps:
        acc = kc if acc is None else (acc & kc)
        cums.append(acc)
    aggs = [F.count(F.lit(1)).alias("__total__")]
    for i, n in enumerate(names):
        aggs.append(F.sum(cums[i].cast("long")).alias(f"__out_{i}__"))
    row = df.agg(*aggs).collect()[0]
    total = row["__total__"]
    spark = df.sparkSession
    rep, n_in = [], total
    for i, n in enumerate(names):
        n_out = row[f"__out_{i}__"] or 0
        rep.append((i, n, n_in, n_in - n_out, n_out,
                    float(n_out) / total if total else 0.0))
        n_in = n_out
    report = spark.createDataFrame(
        rep, "stage int, rule string, n_in long, n_dropped long, "
             "n_out long, retention double")
    return df.filter(cums[-1]) if names else df, report


def sample_mixture(df: DataFrame, weights: dict, *, total_tokens: int,
                   key_cols: tuple = ("lang",), token_col: str = "n_tokens",
                   seed: int = 42) -> DataFrame:
    """Token-budget mixture sampling: draw documents so each bucket
    contributes ~``weights[bucket]`` of ``total_tokens`` — the step right
    after a composition report when assembling a training mix.

    ``weights``: {bucket_key: fraction} where bucket_key is the value of
    ``key_cols`` (scalar for one column, tuple for several); fractions
    need not sum to 1 (they're normalized). Buckets absent from
    ``weights`` are dropped.

    Plan: ONE small aggregation collects per-bucket token totals
    (#buckets rows), converts each budget into a Bernoulli fraction, and
    applies per-bucket coin flips via ``sampleBy`` semantics — one scan,
    no shuffle, no per-bucket jobs. Expected (not exact) budgets, like
    every scalable sampler; a bucket with fewer tokens than its budget is
    taken whole."""
    kc = list(key_cols)
    totals = {tuple(r[c] for c in kc): r["__tok__"]
              for r in df.groupBy(*kc)
                         .agg(F.sum(token_col).alias("__tok__")).collect()}
    norm = sum(weights.values())
    fractions = {}
    for bucket, w in weights.items():
        bk = bucket if isinstance(bucket, tuple) else (bucket,)
        have = totals.get(bk, 0)
        want = total_tokens * (w / norm)
        fractions[bk] = min(1.0, want / have) if have else 0.0

    r = F.rand(seed)
    cond = None
    for bk, frac in fractions.items():
        match = None
        for c, v in zip(kc, bk):
            m = F.col(c) == F.lit(v)
            match = m if match is None else (match & m)
        keep = match & (r < F.lit(frac))
        cond = keep if cond is None else (cond | keep)
    return df.filter(cond if cond is not None else F.lit(False))


def temperature_weights(token_counts: dict, *, alpha: float = 0.3) -> dict:
    """Temperature-scaled mixture weights from observed bucket sizes —
    the multilingual-LM upsampling rule (p_i ∝ n_i^alpha; XLM-R/mT5 use
    alpha≈0.3): alpha=1 keeps natural proportions, alpha→0 approaches
    uniform, boosting low-resource buckets. Feed the result straight into
    :func:`sample_mixture`. Driver-side arithmetic over the (tiny)
    per-bucket totals — pair with one groupBy to obtain them."""
    if not token_counts:
        return {}
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    powed = {k: float(v) ** alpha for k, v in token_counts.items() if v > 0}
    total = sum(powed.values())
    return {k: v / total for k, v in powed.items()}


def remove_boilerplate_lines(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", *,
                             max_doc_frac: float = 0.01, min_docs: int = 2,
                             min_line_chars: int = 1,
                             out_col: str | None = None) -> DataFrame:
    """Corpus-level boilerplate removal (the C4/CCNet line-dedup step):
    drop every LINE that appears (normalized) in more than
    ``max_doc_frac`` of documents (and at least ``min_docs``) — cookie
    banners, nav menus, license footers — and reassemble each document
    from its surviving lines in order.

    Plan shape (all JVM-side):

    1. posexplode lines, keep per-doc line order; normalize
       (trim+lower) for matching while preserving the original text;
    2. line document-frequency via groupBy(norm) over the per-doc
       DISTINCT line set (a line repeated inside one doc counts once);
    3. the boilerplate set is df-filtered and therefore SMALL (lines
       crossing a document-fraction threshold are by definition few
       distinct strings) -> broadcast anti-join against the exploded
       corpus;
    4. re-aggregate with ``array_join(sort by pos)`` — one
       groupBy(doc) shuffle, same linear shape as every corpus pass.

    Documents whose every line is boilerplate yield an empty string.
    Returns ``df`` with ``out_col`` (default: replace ``text_col``)."""
    from ..dtutil import ensure_parallelism
    out_col = out_col or text_col
    raw = df
    df = ensure_parallelism(df)
    # count the RAW frame: counting the round-robin-repartitioned one
    # shuffled the whole corpus just to count rows — the count is
    # scan+aggregate only, and the value is identical
    n_docs = raw.count()
    lines = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col), r"\n"))
                        .alias("__pos__", "__line__"))
               .withColumn("__norm__", F.lower(F.trim(F.col("__line__")))))
    dfreq = (lines.filter(F.length("__norm__") >= min_line_chars)
                  .select(id_col, "__norm__").distinct()
                  .groupBy("__norm__")
                  .agg(F.count(F.lit(1)).alias("__df__")))
    boiler = dfreq.filter(
        (F.col("__df__") >= min_docs)
        & (F.col("__df__") > max_doc_frac * n_docs)).select("__norm__")
    kept = lines.join(F.broadcast(boiler), "__norm__", "left_anti")
    rebuilt = (kept.groupBy(id_col)
                   .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct(F.col("__pos__").alias("p"),
                                         F.col("__line__").alias("l")))),
                            lambda s: s["l"]),
                        "\n").alias(out_col)))
    # raw side: the join's own exchange distributes; no round-robin
    base = raw.drop(out_col) if out_col != text_col else raw.drop(text_col)
    return (base.join(rebuilt, id_col, "left")
                .withColumn(out_col, F.coalesce(F.col(out_col), F.lit(""))))


# ---------------------------------------------------------------------------
# PII detection / redaction (beyond-reference: standard pre-training scrub)
# ---------------------------------------------------------------------------

# Conservative patterns restricted to syntax shared by Java regex (Spark)
# and RE2 (DuckDB oracles): character classes + bounded repetition only —
# no lookaround, no backrefs. Redaction applies them in THIS order, so an
# email's digits can never re-match as a phone number.
PII_PATTERNS: "dict[str, str]" = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+",
    "ipv4": r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+[0-9]{9,14}\b",   # strict international form
}


def pii_counts(text: Column) -> "dict[str, Column]":
    """Per-category PII match counts, SEQUENTIAL like :func:`redact_pii`:
    each pattern counts on the text with earlier categories already
    redacted, so counts always agree with the number of redactions (a
    phone-shaped run inside an email's local part is counted as part of
    the email, not double-counted — counting every pattern on the raw
    text over-reports exactly there). Still one JVM-side expression chain,
    no extra scan."""
    out: dict[str, Column] = {}
    cur = text
    for name, pat in PII_PATTERNS.items():
        out[name] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, f"[{name.upper()}]")
    return out


def redact_pii(text: Column) -> Column:
    """Replace every PII match with ``[CATEGORY]`` in the fixed pattern
    order. Pure ``regexp_replace`` chain: no UDF, vectorized, one scan."""
    out = text
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"[{name.upper()}]")
    return out


# --------------------------------------------------------------------------
# Sequence packing (training-batch construction)
# --------------------------------------------------------------------------

def pack_sequences(df: DataFrame, budget: int, *, by, order_by,
                   token_col: str = "n_tokens",
                   pack_col: str = "pack_id") -> DataFrame:
    """Greedy sequential sequence packing: within each ``by`` group, walk
    rows in ``order_by`` order accumulating ``token_col``; a row starts a
    new pack iff the current pack is non-empty AND adding it would exceed
    ``budget``. Oversized rows (> budget) therefore occupy a pack alone.
    Adds ``pack_col`` (0-based per group).

    The pre-tokenized-shard packing step of an LLM training pipeline —
    inherently sequential within a shard, so it runs as one applyInPandas
    per group: one shuffle on ``by``, then an O(rows) scan per shard. Size
    shards (the ``by`` key) so one fits in executor memory — exactly the
    contract the downstream sequence writer imposes anyway. Deterministic
    given (by, order_by); ties in ``order_by`` should be broken by a
    unique id column for reproducible packs.

    Beyond-reference (training-pipeline mandate); greedy next-fit matches
    the common streaming packer (e.g. T5/GPT data pipelines), not optimal
    bin packing — the ~budget/2 worst-case waste is the accepted trade
    for a single ordered pass."""
    from pyspark.sql.types import LongType, StructField, StructType
    by = [by] if isinstance(by, str) else list(by)
    order_by = [order_by] if isinstance(order_by, str) else list(order_by)
    # copy the field list: StructType.add mutates the df's cached schema
    out_schema = StructType(list(df.schema.fields)
                            + [StructField(pack_col, LongType())])

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_by, kind="mergesort")
        toks = pdf[token_col].to_numpy()
        packs = np.empty(len(toks), dtype=np.int64)
        pack, fill = 0, 0
        for i, t in enumerate(toks):
            t = int(t) if not pd.isna(t) else 0
            if fill > 0 and fill + t > budget:
                pack += 1
                fill = 0
            fill += t
            packs[i] = pack
        pdf[pack_col] = packs
        return pdf

    return df.groupBy(*by).applyInPandas(_pack, out_schema)


# --------------------------------------------------------------------------
# DSIR importance weights (data selection for a target domain)
# --------------------------------------------------------------------------

def _tokens(text: Column) -> Column:
    """Lowercased whitespace-split non-empty tokens of ``text``.

    Callers that reference the token array more than once must project it
    into a named column first: higher-order-function expressions are
    interpreted with no common-subexpression elimination, so every inlined
    reference re-runs the full split/lower/trim pass."""
    return F.filter(F.split(F.lower(F.trim(text)), _WS),
                    lambda t: F.length(t) > 0)


def _ngrams_from_tokens(toks: Column, k: int) -> Column:
    """Word k-grams WITH multiplicity from an already-tokenized array.

    Built from k SHIFTED SLICES of the token array folded with
    ``zip_with`` + concat: k array copies total. The per-index form
    (``transform(idx, i -> array_join(slice(toks, i, k)))``) allocates a
    fresh k-element array per gram — O(n·k) copies; measured 7.6x slower
    on the sf0.1 corpus. Fewer-than-k-token docs yield an empty list
    (slice length clamps at 0)."""
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for i in range(1, k):
        acc = F.zip_with(acc, F.slice(toks, i + 1, m),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return acc


def _word_ngrams(text: Column, k: int) -> Column:
    """Word k-grams WITH multiplicity (no dedup — importance weights count
    every occurrence), over lowercased whitespace-split tokens.

    NOTE: inlines the tokenization into every slice reference (2k of
    them) — fine for a single small k; callers combining several k or
    large k should project :func:`_tokens` into a column and call
    :func:`_ngrams_from_tokens` (see ``repetition_signals``)."""
    return _ngrams_from_tokens(_tokens(text), k)


def dsir_logweights(corpus: DataFrame, target: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id", *,
                    k: int = 2, smoothing: float = 0.5,
                    broadcast_vocab_max: int = 30_000_000) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per corpus document,
    ``sum over gram occurrences of log p_target(g) - log p_corpus(g)`` —
    documents resembling the target domain score high; feed the weights
    to Gumbel-top-k / :func:`sample_mixture` to select a training subset.
    DSIR hashes n-grams into buckets for speed; raw n-grams keep the same
    estimator exactly (hashing only controls feature-table size).

    Plan: one explode->groupBy per side builds the two Lidstone-smoothed
    gram LMs (map-side combined, linear shuffles); the two vocab-sized
    count tables full-outer join into one log-ratio table, which
    BROADCASTS into the corpus scoring join — the exploded corpus side
    (petabyte-scale, Zipf-hot stopword grams) never shuffles on the gram
    key, same skew argument as :func:`unigram_logprob_score`. Above
    ``broadcast_vocab_max`` it falls back to a shuffled join and warns.

    Returns corpus columns + ``dsir_logweight`` (0.0 for docs with no
    grams) + ``n_grams``."""
    from ..dtutil import ensure_parallelism
    # single-file parquet arrives as ONE partition; gram generation is the
    # expensive per-row work, so spread it across cores first
    corpus_p = ensure_parallelism(corpus)
    target_p = ensure_parallelism(target)
    # tokenize into a projected column first: the inlined _word_ngrams
    # form re-runs the split/lower/trim pass at every slice reference
    # (2k of them — HOF expressions are interpreted with no CSE)
    grams_c = (corpus_p.select(F.col(id_col),
                               _tokens(F.col(text_col)).alias("__t__"))
                       .select(id_col,
                               F.explode(_ngrams_from_tokens(
                                   F.col("__t__"), k)).alias("__g__")))
    grams_t = (target_p.select(_tokens(F.col(text_col)).alias("__t__"))
                       .select(F.explode(_ngrams_from_tokens(
                                   F.col("__t__"), k)).alias("__g__")))
    fc = grams_c.groupBy("__g__").agg(F.count(F.lit(1)).alias("__cc__"))
    ft = grams_t.groupBy("__g__").agg(F.count(F.lit(1)).alias("__ct__"))
    lm = (fc.join(ft, "__g__", "full_outer")
            .select("__g__",
                    F.coalesce("__cc__", F.lit(0)).alias("__cc__"),
                    F.coalesce("__ct__", F.lit(0)).alias("__ct__")))
    # only this vocab-sized table is materialized, never the corpus-sized
    # gram streams
    lm, tot = _vocab_totals(lm, F.sum("__cc__").alias("nc"),
                            F.sum("__ct__").alias("nt"),
                            F.count(F.lit(1)).alias("v"))
    nc, nt = float(tot["nc"] or 0), float(tot["nt"] or 0)
    vocab = float(tot["v"] or 1)
    a = float(smoothing)
    ratio = (F.log((F.col("__ct__") + a) / F.lit(nt + a * vocab))
             - F.log((F.col("__cc__") + a) / F.lit(nc + a * vocab)))
    lm, = _broadcast_vocab("dsir_logweights", "vocabulary grams", vocab,
                           broadcast_vocab_max,
                           lm.select("__g__", ratio.alias("__r__")))
    scored = (grams_c.join(lm, "__g__")
                     .groupBy(id_col)
                     .agg(F.sum("__r__").alias("dsir_logweight"),
                          F.count(F.lit(1)).alias("n_grams")))
    out = corpus.join(scored, id_col, "left")
    return out.withColumn("dsir_logweight",
                          F.coalesce("dsir_logweight", F.lit(0.0))) \
              .withColumn("n_grams", F.coalesce("n_grams", F.lit(0)))


def weighted_sample_topk(df: DataFrame, logweight_col: str, n: int, *,
                         seed: int = 42) -> DataFrame:
    """Weighted sampling WITHOUT replacement of ``n`` rows, probability
    ∝ exp(logweight): the Gumbel-top-k trick (Kool et al. 2019) — perturb
    each log-weight with independent Gumbel noise and take the global
    top-n. One scan + TakeOrderedAndProject(n); no shuffle of the data,
    no driver-side weight table — THE way to draw a DSIR-selected subset
    at corpus scale (pair with :func:`dsir_logweights`).

    Deterministic for a fixed seed AND fixed partitioning (Spark's rand()
    seeds per partition, like every distributed sampler here). NULL
    log-weights are excluded."""
    u = F.rand(seed)
    # clamp away u=0: log(-log(u)) must stay finite
    gumbel = -F.log(-F.log(F.greatest(u, F.lit(1e-12))))
    key = F.col(logweight_col) + gumbel
    return (df.filter(F.col(logweight_col).isNotNull())
              .withColumn("__gk__", key)
              .orderBy(F.col("__gk__").desc()).limit(n).drop("__gk__"))


# --------------------------------------------------------------------------
# Trained quality classifier (fastText-style filtering model)
# --------------------------------------------------------------------------

def quality_features(text: Column) -> dict[str, Column]:
    """The feature set behind the trained quality filter: cheap, pure
    Catalyst expressions (one scan, no tokenizer model). NULL-safe — each
    feature is coalesced so the assembled vector never drops rows for
    missing components."""
    return {
        "f_n_tokens": F.coalesce(token_count(text).cast("double"),
                                 F.lit(0.0)),
        "f_avg_tok_len": F.coalesce(avg_token_length(text), F.lit(0.0)),
        "f_punct_ratio": F.coalesce(punct_ratio(text), F.lit(0.0)),
        "f_upper_ratio": F.coalesce(uppercase_ratio(text), F.lit(0.0)),
        "f_stopword_ratio": F.coalesce(stopword_ratio(text), F.lit(0.0)),
        "f_digit_ratio": F.coalesce(
            (F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", "")))
            .cast("double") / F.nullif(F.length(text), F.lit(0)),
            F.lit(0.0)),
        "f_bpe_per_word": F.coalesce(
            token_count_bpe(text).cast("double")
            / F.nullif(token_count(text).cast("double"), F.lit(0.0)),
            F.lit(0.0)),
    }


def train_quality_classifier(labeled: DataFrame, text_col: str = "text",
                             label_col: str = "label", *,
                             algorithm: str = "logistic-regression",
                             **params) -> dict:
    """Train the classifier-based quality filter real pipelines use (the
    fastText-style model of GPT-3/LLaMA data curation: label a seed set
    good/bad, train a cheap linear model on shallow text features, score
    the whole corpus). Features from :func:`quality_features` — no
    external tokenizer/embedding, so train AND inference stay one-scan.
    Returns the ml.models trained dict (+ the feature spec)."""
    from ..ml import models as mdl
    feats = quality_features(F.col(text_col))
    train_df = labeled.withColumns(feats)
    trained = mdl.train_classification(train_df, label_col,
                                       list(feats), algorithm=algorithm,
                                       **params)
    trained["text_col"] = text_col
    return trained


def score_quality(df: DataFrame, trained: dict, *,
                  out_col: str = "quality_pred") -> DataFrame:
    """Apply a :func:`train_quality_classifier` model to a corpus: derive
    the same features in-plan and predict — a narrow, shuffle-free pass
    (MLlib broadcasts the model)."""
    from ..ml import models as mdl
    feats = quality_features(F.col(trained["text_col"]))
    scored = mdl.predict(df.withColumns(feats), trained, out_col=out_col)
    return scored.drop(*feats)


# --------------------------------------------------------------------------
# URL canonicalization + URL-level dedup (crawl-pipeline stage)
# --------------------------------------------------------------------------

def canonical_url(url: Column) -> Column:
    """Canonicalize a URL for crawl dedup (the C4/RefinedWeb URL-dedup
    normalizer): drop the fragment, strip tracking params (utm_*, fbclid,
    gclid, ref), lowercase scheme+host (path/query case is preserved —
    it is significant), strip a leading ``www.`` and a trailing ``/``.
    Pure Catalyst regexp chain (Java∩RE2 syntax — no lookahead), one
    scan; NULL in -> NULL out."""
    u = F.regexp_replace(url, r"#.*$", "")                   # fragment
    # Strip tracking params KEEPING the separator ($1), so a tracking param
    # between two kept params ('?a=1&utm_x=2&b=3') leaves '?a=1&&b=3' and
    # the collapse passes below restore '?a=1&b=3' — replacing with a bare
    # '?' (an earlier bug) produced '?a=1?b=3', which silently missed the
    # mid-position alias class entirely.
    u = F.regexp_replace(u, r"([?&])(?:utm_[A-Za-z]+|fbclid|gclid|ref)=[^&]*",
                         r"$1")                              # tracking out
    u = F.regexp_replace(u, r"&&+", "&")                     # && runs
    u = F.regexp_replace(u, r"\?&", "?")                     # ?&rest
    u = F.regexp_replace(u, r"[?&]+$", "")                   # dangling ?/&
    host = F.lower(F.regexp_extract(u, r"^([A-Za-z]+://[^/?]*)", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z]+://[^/?]*", "")
    u = F.concat(F.regexp_replace(host, r"^([a-z]+://)www\.", r"$1"), rest)
    u = F.regexp_replace(u, r"/\?", "?")                     # path/?q -> path?q
    return F.regexp_replace(u, r"/$", "")


def url_dedup(df: DataFrame, url_col: str, id_col: str = "doc_id", *,
              keep: str = "min") -> DataFrame:
    """Keep one row per canonical URL (smallest/largest ``id_col`` wins)
    — the crawl-level dedup that runs BEFORE content dedup (same page
    fetched via different tracking links / fragments / www aliases).
    One hash-groupBy shuffle on the canonical URL; NULL urls pass
    through untouched (never duplicates of each other)."""
    keep_fn = F.min if keep == "min" else F.max
    cu = df.withColumn("__cu__", canonical_url(F.col(url_col)))
    nulls = cu.filter(F.col("__cu__").isNull()).drop("__cu__")
    nn = cu.filter(F.col("__cu__").isNotNull())
    survivors = nn.groupBy("__cu__").agg(keep_fn(id_col).alias(id_col))
    return (nn.join(survivors, ["__cu__", id_col], "left_semi")
              .drop("__cu__").unionByName(nulls))


def normalize_unicode(df: DataFrame, text_col: str = "text", *,
                      form: str = "NFC", out_col: str | None = None,
                      strip_control: bool = False) -> DataFrame:
    """Unicode normalization (UAX #15) — the crawl-text cleanup step every
    multilingual pipeline runs before dedup/tokenization (the same logical
    text arrives as precomposed OR combining sequences; unnormalized, they
    never hash-match). ``form``: NFC/NFKC/NFD/NFKD. ``strip_control``
    additionally removes C0/C1 control characters except tab/newline
    (a pure Catalyst regexp, applied AFTER normalization).

    Spark has no built-in normalizer, so this is an Arrow-batched
    ``pandas_udf`` over ``unicodedata`` (stdlib; one Python pass per
    batch). NULL in -> NULL out. The NFC law is engine-portable — DuckDB's
    ``nfc_normalize`` implements the same UAX #15 form, which is what lets
    the `unicode_nfc_docs` query be oracle-checked end-to-end."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    out_col = out_col or text_col

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(lambda t: unicodedata.normalize(form, t)
                     if t is not None else None)

    out = df.withColumn(out_col, _norm(F.col(text_col)))
    if strip_control:
        # \x0B-\x1F covers CR (\x0D) too — only tab and LF survive, as the
        # docstring promises (CRLF web text must hash-match its LF twin)
        out = out.withColumn(out_col, F.regexp_replace(
            F.col(out_col),
            "[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]", ""))
    return out


def token_budget_mix(df: DataFrame, weights: dict[str, float], *,
                     total_tokens: int,
                     source_col: str = "source",
                     tokens_col: str = "n_tokens",
                     id_col: str = "doc_id",
                     seed: int = 0,
                     bucket_hex_digits: int = 3) -> DataFrame:
    """Token-budget SOURCE MIXING — the recipe step every
    published pretraining pipeline ends with (Dolma's mixer,
    FineWeb's per-dump proportions, the classic "60% web / 30% code /
    10% books BY TOKEN COUNT"): give each source a token budget
    ``total_tokens * weight / sum(weights)`` and keep, per source,
    the deterministic priority-ordered prefix of documents whose
    cumulative token count stays within the budget. Sources absent
    from ``weights`` are dropped.

    SEMANTICS (the oracle-replayable law): priority =
    ``md5(id ':' seed)`` (the engine-portable determinism device used
    across this repo); per source, order documents by priority and
    keep every document whose INCLUSIVE running token sum is <=
    budget. Equivalent SQL: a running ``sum() OVER (PARTITION BY
    source ORDER BY priority)`` filtered to ``cum <= budget``.

    100 TB design — the naive window IS the trap: with a handful of
    sources, ``PARTITION BY source`` funnels a whole source's rows
    through one task's sort. This implementation takes the EXACT
    two-phase cut instead: (1) one map-side aggregation of token
    sums per (source, priority-bucket) — the bucket is the first
    ``bucket_hex_digits`` hex chars of the md5, so bucket order IS
    priority order — giving a sources x 4096 table the driver
    prefix-scans to find each source's boundary bucket and remaining
    budget; (2) rows in buckets BELOW the boundary are kept by a
    broadcast-joined filter (no sort, no shuffle of the kept mass),
    and only the boundary bucket's rows — ~1/4096 of one source —
    pay a windowed running sum. Bit-identical to the global prefix
    cut because md5-hex bucket order equals md5-hex string order."""
    from pyspark.sql import Window

    if not weights:
        raise ValueError("token_budget_mix: empty weights")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("token_budget_mix: weights must sum > 0")
    budgets = {s: total_tokens * float(w) / wsum
               for s, w in weights.items()}
    n_buckets = 16 ** bucket_hex_digits

    pri = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":"),
                         F.lit(str(seed))))
    bucket = F.conv(F.substring(pri, 1, bucket_hex_digits), 16, 10) \
        .cast("int")
    t = df.filter(F.col(source_col).isin(*budgets.keys())) \
          .withColumn("__pri__", pri).withColumn("__b__", bucket)

    # phase 1: (source, bucket) token sums -> driver prefix scan.
    # |sources| x n_buckets rows — vocabulary-sized, never row-scaled.
    sums = {(r[source_col], r["__b__"]): r["__tok__"]
            for r in t.groupBy(source_col, "__b__")
                      .agg(F.sum(tokens_col).alias("__tok__")).collect()}
    bounds = []                     # (source, boundary_bucket, remaining)
    for s, bud in budgets.items():
        cum = 0
        boundary, remaining = n_buckets, 0.0
        for b in range(n_buckets):
            tok = sums.get((s, b), 0) or 0
            if cum + tok > bud:
                boundary, remaining = b, bud - cum
                break
            cum += tok
        bounds.append((s, boundary, float(remaining)))
    spark = df.sparkSession
    bdf = spark.createDataFrame(
        bounds, f"{source_col} string, __bound__ int, __rem__ double")

    j = t.join(F.broadcast(bdf), source_col)
    keep_whole = j.filter(F.col("__b__") < F.col("__bound__"))
    # phase 2: ONLY the boundary bucket sorts (~1/n_buckets of one
    # source) — the window is bounded, not source-sized
    edge = j.filter(F.col("__b__") == F.col("__bound__"))
    # id tiebreaker: duplicate id_col values share an md5
    # priority, and a tie-ordered running sum would make the cut
    # nondeterministic / non-oracle-replayable.
    w = Window.partitionBy(source_col).orderBy("__pri__", id_col) \
        .rowsBetween(Window.unboundedPreceding, 0)
    edge_keep = edge.withColumn("__cum__", F.sum(tokens_col).over(w)) \
                    .filter(F.col("__cum__") <= F.col("__rem__")) \
                    .drop("__cum__")
    out = keep_whole.unionByName(edge_keep)
    return out.drop("__pri__", "__b__", "__bound__", "__rem__")


def hashed_ngram_score(df: DataFrame, weights: list[float], *,
                       text_col: str = "text",
                       out_col: str = "quality_score",
                       bias: float = 0.0, ngrams: int = 1,
                       seed: int = 0, id_col: str | None = None,
                       literal_limit: int = 1024) -> DataFrame:
    """fastText-style HASHING-TRICK linear scorer — the model
    class the published quality filters actually deploy (CCNet's
    fastText language/quality filters, FineWeb-Edu's classifier
    distillations): features are hashed word n-grams, the model is
    one weight vector of dimension ``len(weights)``, and the score is
    ``sigmoid(bias + sum_g W[h(g) mod D])`` over the document's
    grams. Training happens offline; THIS is the 100 TB inference
    path, so it must be a scan-fused projection, not a Python loop.

    Engine-portable law (oracle-replayable): ``h(g)`` = the first 8
    hex chars of ``md5(gram ':' seed)`` as an integer — identical in
    Spark (``conv(substring(md5(..),1,8),16,10)``) and DuckDB
    (``('0x' || substr(md5(..),1,8))::BIGINT``). Grams are the
    whitespace tokens plus, for ``ngrams>=2``, the space-joined runs
    of 2..ngrams consecutive tokens (the fastText wordNgrams
    convention).

    Plan shape: when ``len(weights) <= literal_limit`` the weight
    vector ships as ONE array literal and the whole score is a
    ``F.aggregate`` over the gram array inside the projection — no
    shuffle, no UDF, fused into the scan (the repo's >1k-literal
    Catalyst guidance bounds the default). Larger models take the
    scale path automatically: explode the grams, BROADCAST-join the
    weight table on bucket (the model is vocabulary-sized — even a
    2M-bucket fastText vector is ~16 MB, a textbook broadcast),
    re-aggregate by ``id_col`` (required for that path; its values
    must be unique) and join the scores back — one shuffle keyed by
    the id, scaling to millions of buckets without a million-literal
    plan."""
    from ..dtutil import _let
    D = len(weights)
    if D == 0:
        raise ValueError("hashed_ngram_score: empty weight vector")

    def gram_arrays(toks):
        # ``toks`` is a _let-bound lambda variable: the inlined form
        # re-ran the whitespace split at EVERY element_at reference —
        # once per gram per token-lookup, O(len²) per row
        def gram_lambda(n):
            # factory, not a `n=n` default: F.transform's two-arg lambda
            # binds (element, INDEX) and silently shadows the default —
            # the repo's documented trap (see the verify notes)
            return lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)])

        out = [toks]
        for n in range(2, int(ngrams) + 1):
            stop = F.size(toks) - (n - 1)
            # guard: sequence(1, 0) DESCENDS in Spark — short docs
            # must yield no n-grams, not an index-0 probe
            idx = F.when(stop >= 1, F.sequence(F.lit(1), stop)) \
                   .otherwise(F.array().cast("array<int>"))
            out.append(F.transform(idx, gram_lambda(n)))
        return F.flatten(F.array(*out)) if len(out) > 1 else out[0]

    # NULL text coalesces to the empty gram array so BOTH paths score
    # sigmoid(bias): without it the literal path's
    # F.aggregate over a NULL array yields NULL while the broadcast
    # path's explode_outer+coalesce yields sigmoid(bias).
    grams = F.when(F.length(F.trim(F.col(text_col))) == 0,
                   F.array().cast("array<string>")) \
             .otherwise(F.coalesce(
                 _let(F.split(F.trim(F.col(text_col)), _WS), gram_arrays),
                 F.array().cast("array<string>")))
    bucket = lambda g: (F.conv(F.substring(
        F.md5(F.concat(g, F.lit(":"), F.lit(str(seed)))), 1, 8),
        16, 10).cast("long") % D).cast("int")
    if D <= literal_limit:
        warr = F.array(*[F.lit(float(w)) for w in weights])
        raw = F.aggregate(
            grams, F.lit(float(bias)),
            lambda acc, g: acc + F.element_at(warr, bucket(g) + 1))
        return df.withColumn(out_col, F.lit(1.0)
                             / (F.lit(1.0) + F.exp(-raw)))
    if id_col is None:
        raise ValueError(
            "hashed_ngram_score: weight vectors past literal_limit "
            f"({literal_limit}) take the broadcast-join path, which "
            "re-aggregates per row — pass id_col naming a unique id "
            "column")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(weights)],
        "__bucket__ int, __w__ double")
    g = df.select(id_col, F.explode_outer(grams).alias("__g__")) \
          .withColumn("__bucket__",
                      F.when(F.col("__g__").isNotNull(),
                             bucket(F.col("__g__"))))
    scores = g.join(F.broadcast(wdf), "__bucket__", "left") \
              .groupBy(id_col) \
              .agg((F.lit(float(bias))
                    + F.sum(F.coalesce(F.col("__w__"), F.lit(0.0))))
                   .alias("__raw__"))
    scores = scores.select(
        id_col, (F.lit(1.0) / (F.lit(1.0)
                               + F.exp(-F.col("__raw__"))))
        .alias(out_col))
    return df.join(scores, id_col, "left")
