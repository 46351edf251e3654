"""Deduplication operators for training-data pipelines (beyond-reference
mandate).

What the module holds:

- exact dedup on a text or fingerprint hash (:func:`exact_dedup`,
  :func:`fingerprint_dedup`, the cross-corpus :func:`incremental_dedup`)
  and exact-substring removal (:func:`exact_substring_dedup`);
- near-duplicate pair generators: MinHash + LSH banding
  (:func:`minhash_dedup_pairs`, :func:`minhash_pairs_between`, the
  persisted index), banded Hamming over any 64-bit fingerprint (SimHash,
  image dHash, audio; :func:`hamming_dedup_pairs`,
  :func:`hamming_pairs_between`), shared-fingerprint overlap,
  word n-gram Jaccard, winnow substring fingerprints, the prefix-filtered
  set-similarity join and the q-gram edit-distance join; the embedding
  cosine pairs live in ``similarity.py``;
- benchmark decontamination and the transitive :func:`dedup_clusters`.

Every pair generator is filter-then-verify over one candidate-pair path,
written once below and shared with ``similarity.py`` and the streaming
dedup sinks: :func:`_key_pairs` equi-joins a slim keyed table (id, join
key, small payload) with itself — keeping ``id_a < id_b``, so no row
pairs with itself — or with a second table; the caller collapses the
result to one row per pair; :func:`_attach` joins the verify payload
(shingle sets, vectors) back once per side; :func:`_jaccard_at_least`
and the Hamming and cosine tails score each candidate exactly.
:func:`_admit` caps the document frequency of an inverted index's keys,
and :func:`_drop_named` removes the rows a pair set names.

Scale design: signatures are Catalyst higher-order expressions (xxhash64,
transform, aggregate, zip_with) computed JVM-side in one scan; the
candidate join is keyed on (band, hash) buckets or index keys — shuffle
linear in corpus size, never the quadratic all-pairs — and the exact
verify runs only on candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..dtutil import _let, materialize

# Mersenne prime for the (a*x + b) % p permutation family. 2^31-1 keeps
# every intermediate product < 2^62, i.e. inside java long WITHOUT overflow —
# mandatory under ANSI mode (Spark 4 default), where long overflow throws
# instead of wrapping. 2^31 distinct min-hash values is ample for banding.
_MERSENNE = (1 << 31) - 1


def normalize_text(text: Column) -> Column:
    """Lowercase + collapse whitespace — the canonical pre-dedup normalizer."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")




def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                *, keep: str = "min", keep_by: str | None = None) -> DataFrame:
    """Exact dedup on normalized text hash: one hash-groupBy shuffle; the
    smallest (or largest) id per fingerprint survives.

    ``keep_by`` names a column that picks the survivor INSTEAD of the id
    order — the curation case where duplicate groups keep their
    best-scoring copy (highest quality score, longest raw text, newest
    crawl date): the survivor is the row with the maximum ``keep_by``
    value, ties broken by ``keep`` on the id (deterministic). NULL
    ``keep_by`` values lose to any non-NULL one. Same plan shape — one
    groupBy carrying a (score, id) struct instead of the bare id.

    NULL text is NOT a duplicate of other NULL text: missing-content rows
    route around the dedup untouched (a NULL fingerprint never matches
    the semi join's equality, so without the separate NULL branch those
    rows would vanish)."""
    keep_fn = F.min if keep == "min" else F.max
    fp = df.withColumn("__fp__", F.md5(normalize_text(F.col(text_col))))
    nulls = fp.filter(F.col("__fp__").isNull()).drop("__fp__")
    nn = fp.filter(F.col("__fp__").isNotNull())
    if keep_by is not None:
        out = _argmax_survivors(nn, "__fp__", id_col, keep_by, keep_fn) \
            .drop("__fp__")
        return out.unionByName(nulls)
    survivors = nn.groupBy("__fp__").agg(keep_fn(id_col).alias(id_col))
    out = (nn.join(survivors, ["__fp__", id_col], "left_semi")
             .drop("__fp__"))
    return out.unionByName(nulls)


def _argmax_survivors(nn: DataFrame, fp_col: str, id_col: str,
                      keep_by: str, keep_fn) -> DataFrame:
    """argmax(keep_by)-per-fingerprint survivor election, skew-safe:
    a `row_number over (partition by fp)` window funnels a hot
    fingerprint's FULL rows through one reducer; here only SLIM
    (fp, id, score) rows ever key on the bare fingerprint — best score
    per fp (map-side-combined agg), score-tied candidates, keep-order
    id among them (map-side again) — and the one full-row exchange is
    the final (fp, id) semi join, whose two-column key spreads a hot
    fingerprint across its ids. NULL keep_by loses to any non-NULL
    (max ignores NULLs; the all-NULL group falls back to id order via
    the null-safe score filter).

    PRECONDITION: ``id_col`` is unique per row (true for every caller
    — doc_id / image ids). With duplicate ids the final (fp, id) semi
    join keeps EVERY row of the winning (fp, id) pair, where the
    row_number window this replaced kept exactly one arbitrary row;
    electing among indistinguishable duplicates has no meaningful
    'one' to keep, so the precondition is documented rather than
    papered over with a dropDuplicates shuffle."""
    slim = nn.select(fp_col, id_col, keep_by)
    best = slim.groupBy(fp_col).agg(F.max(keep_by).alias("__s__"))
    cand = (slim.join(best, fp_col)
                .filter(F.col(keep_by).eqNullSafe(F.col("__s__"))))
    surv = cand.groupBy(fp_col).agg(keep_fn(id_col).alias(id_col))
    return nn.join(surv, [fp_col, id_col], "left_semi")


def shingles(text: Column, k: int = 5, *, mode: str = "char") -> Column:
    """k-shingles of normalized text: 'char' k-grams (robust for dedup) or
    'word' n-grams. Pure expression: substring over a generated index range.

    Both modes let-bind the normalized text (and word mode the token
    array) via :func:`_let` so the regex normalization runs ONCE per row:
    inlined, it re-ran at every reference — ~2k+4 times in word mode and,
    far worse, once per generated index in char mode (the substr lambda's
    body re-evaluated its whole subtree per element: O(len²) per row).
    Measured on the sf0.1 corpus (isolated min-of-5 A/B): char-shingle
    projection 3.13s -> 0.64s (4.9x; 0.15s in a quiet window), word mode
    0.108s -> 0.067s (1.6x); outputs verified identical (exceptAll both
    directions empty, both modes)."""
    return _let(normalize_text(text), lambda norm: _shingles_of(norm, k, mode))


def _shingles_of(norm: Column, k: int, mode: str) -> Column:
    if mode == "word":
        # k shifted slices folded with zip_with — O(k) array copies, not
        # the O(n·k) per-index slice form (same rewrite as text.py
        # _word_ngrams, measured 7.6x on the sf0.1 corpus).
        # toks is a bare split — normalize_text already trims and
        # collapses whitespace, so the only empty token is the ""-input
        # case, guarded at the top. The previous filter(split, len>0)
        # wrapper copied its lambda into every toks reference (k+3 sites),
        # and expression-codegen of that tree was the dominant FIXED cost
        # on small slices (ngram_jaccard_docs bisect, COVERAGE.md).
        def word_grams(toks):
            n = F.size(toks)
            m = F.greatest(n - (k - 1), F.lit(0))
            acc = F.slice(toks, 1, m)
            for i in range(1, k):
                acc = F.zip_with(acc, F.slice(toks, i + 1, m),
                                 lambda a, b: F.concat(a, F.lit(" "), b))
            # docs with 1..k-1 tokens emit ONE partial gram (all tokens
            # joined) — the original law the DuckDB oracles replay
            # (clamping slice over greatest(n-k+1, 1)). Without it the
            # zip_with rewrite gave short docs ZERO features: identical
            # sub-k-word docs could never match in the Jaccard family,
            # and simhash collapsed every short doc to 0, pairing
            # unrelated docs at distance 0. Empty/NULL text still yields
            # []/NULL (size(NULL) is -1 non-ANSI and NULL under ANSI —
            # the (n > 0) conjunct routes BOTH to the otherwise-arm,
            # whose NULL slices propagate NULL).
            return F.when(norm == "", F.array().cast("array<string>")) \
                    .when((n > 0) & (n < k),
                          F.array(F.array_join(toks, " "))) \
                    .otherwise(F.array_distinct(acc))
        return _let(F.split(norm, " "), word_grams)
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.filter(F.transform(idx, lambda i: norm.substr(i, F.lit(k))),
                 lambda s: F.length(s) == k))


def _minhash_coeffs(n_hashes: int, seed: int) -> list[tuple[int, int]]:
    state = seed | 1
    coeffs = []
    for _ in range(n_hashes):
        state = (6364136223846793005 * state + 1442695040888963407) & ((1 << 63) - 1)
        a = (state % (_MERSENNE - 1)) + 1
        state = (6364136223846793005 * state + 1442695040888963407) & ((1 << 63) - 1)
        b = state % _MERSENNE
        coeffs.append((a, b))
    return coeffs


def shingle_hashes(shingle_col: Column, *, hash_fn: str = "xxhash64") -> Column:
    """Positive-space hash of each shingle — compute this ONCE as its
    own column before fanning out to n_hashes permutations: referenced 64×,
    CollapseProject keeps the projection boundary so the string hashing
    runs once per row, not once per signature slot.

    ``hash_fn``: ``"xxhash64"`` (default — one JVM hash op per token, the
    production path) or ``"md5"`` — the first 60 bits of md5 parsed as an
    integer. md5 is engine-portable (any SQL engine with md5 + hex parse
    reproduces it bit-for-bit), which is what lets the MinHash banding law
    be verified end-to-end against an independent engine; it costs one
    digest + string slice per token, so keep xxhash64 for production runs."""
    if hash_fn == "md5":
        return F.transform(shingle_col, lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
            F.lit(_MERSENNE)))
    if hash_fn != "xxhash64":
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    return F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))


def minhash_signature(shingle_col: Column, n_hashes: int = 64, seed: int = 42,
                      *, prehashed: bool = False) -> Column:
    """MinHash signature as array<bigint>: h_i(S) = min over shingles of
    ((a_i * xxhash64(s) + b_i) mod p). Deterministic (a_i, b_i) from an LCG
    so driver and executors agree without shipping state. Pass a
    ``shingle_hashes`` column with ``prehashed=True`` to avoid re-hashing
    the raw shingles per permutation."""
    base = shingle_col if prehashed else shingle_hashes(shingle_col)
    sig = []
    for a, b in _minhash_coeffs(n_hashes, seed):
        sig.append(F.array_min(F.transform(
            base, lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MERSENNE)))))
    return F.array(*sig)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (distinct semantics)."""
    inter = F.size(F.array_intersect(a, b))
    uni = F.size(F.array_union(a, b))
    return F.when(uni == 0, F.lit(0.0)).otherwise(inter.cast("double") / uni)


# ---- the candidate-pair path ------------------------------------------------

_SELF = ("id_a", "id_b")        # pair id names of a self-join
_CROSS = ("new_id", "hist_id")  # pair id names of a (new, historical) join
_SETS = {"__sh__": ("sh_a", "sh_b")}  # shingle sets carried to the verify


def _side(t: DataFrame, id_col: str, name: str, cols, carry: dict,
          i: int) -> DataFrame:
    """One side of a pair join: ``id_col`` renamed ``name``, each
    ``carry`` column renamed to its side-``i`` name, ``cols`` as they
    are."""
    return t.select(F.col(id_col).alias(name),
                    *[F.col(c).alias(n[i]) for c, n in carry.items()], *cols)


def _key_pairs(a: DataFrame, keys: list, a_id: str,
               b: DataFrame | None = None, b_id: str | None = None, *,
               names: tuple = _SELF, carry: dict | None = None) -> DataFrame:
    """Candidate step of every pair generator: equi-join ``a`` with ``b``
    on ``keys`` (no keys: every pair), the ids renamed ``names`` and each
    ``carry`` column ``c`` renamed ``carry[c][0]`` on the ``a`` side and
    ``carry[c][1]`` on the ``b`` side. ``b=None`` self-joins ``a`` and
    keeps ``names[0] < names[1]``: no row pairs with itself and each
    unordered pair comes once per shared key. The caller collapses the
    result to one row per pair."""
    carry = carry or {}
    sa = _side(a, a_id, names[0], keys, carry, 0)
    sb = _side(a if b is None else b, b_id or a_id, names[1], keys, carry, 1)
    pairs = sa.join(sb, keys) if keys else sa.join(sb)
    if b is not None:
        return pairs
    return pairs.filter(F.col(names[0]) < F.col(names[1]))


def _attach(ids: DataFrame, a: DataFrame, b: DataFrame, a_id: str,
            b_id: str | None = None, *, names: tuple = _SELF,
            carry: dict) -> DataFrame:
    """Join each side's ``carry`` columns (renamed as in
    :func:`_key_pairs`) back to the slim one-row-per-pair set ``ids``,
    once per side, so only candidates ever carry a document-sized payload
    through a shuffle."""
    sa = _side(a, a_id, names[0], (), carry, 0)
    sb = _side(b, b_id or a_id, names[1], (), carry, 1)
    return (ids.join(sa, names[0]).join(sb, names[1])
               .select(*names, *[n[0] for n in carry.values()],
                       *[n[1] for n in carry.values()]))


def _jaccard_at_least(pairs: DataFrame, threshold: float,
                      names: tuple = _SELF,
                      sets: tuple = ("sh_a", "sh_b")) -> DataFrame:
    """Verify step of the set generators: ``(*names, jaccard)`` for the
    pairs whose attached ``sets`` have exact Jaccard >= ``threshold``,
    rounded to 4 places."""
    return (pairs.withColumn("jaccard", jaccard(F.col(sets[0]),
                                                F.col(sets[1])))
                 .filter(F.col("jaccard") >= threshold)
                 .select(*names, F.round("jaccard", 4).alias("jaccard")))


def _admit(inv: DataFrame, key: str, max_df: int | None) -> DataFrame:
    """Rows of the inverted index ``inv`` whose ``key`` occurs in at most
    ``max_df`` rows (every row when ``max_df`` is None). Both sides of
    the self-join read ``inv``, so the admitted key set is materialized
    once (:func:`materialize`): the count aggregation over the whole index
    runs once, not once per side."""
    if max_df is None:
        return inv
    admitted = materialize(
        inv.groupBy(key).agg(F.count(F.lit(1)).alias("__df__"))
           .filter(F.col("__df__") <= max_df)
           .select(key))
    return inv.join(admitted, key)


def _drop_named(df: DataFrame, pairs: DataFrame, side: str,
                id_col: str) -> DataFrame:
    """Rows of ``df`` whose ``id_col`` is not named in the ``side``
    column of ``pairs``: one anti join on the slim distinct id set."""
    named = pairs.select(F.col(side).alias(id_col)).distinct()
    return df.join(named, id_col, "left_anti")


def _shingle_and_band(df: DataFrame, id_col: str, text_col: str, *, k: int,
                      n_hashes: int, bands: int, seed: int,
                      hash_fn: str) -> tuple[DataFrame, DataFrame]:
    """Shared front half of every MinHash path: per-doc distinct shingle
    set (kept slim, joined back only for confirmed candidates) and the
    exploded (id, band, band_key) table that enters the LSH equi-join.
    Band keys: murmur hash of the band slice (production) or the
    comma-joined slice itself (hash_fn="md5" — engine-portable, see
    :func:`minhash_candidates`). Repartitions narrow scans first: the
    shingle+hash stage is CPU-bound per row, so a single-file parquet
    input must not pin it to one core."""
    from ..dtutil import ensure_parallelism
    df = ensure_parallelism(df)
    rows_per_band = n_hashes // bands
    sh = df.select(F.col(id_col), shingles(F.col(text_col), k).alias("__sh__"))
    sigd = sh.withColumn("__hb__", shingle_hashes(F.col("__sh__"), hash_fn=hash_fn)) \
             .withColumn("__sig__", minhash_signature(F.col("__hb__"), n_hashes,
                                                      seed, prehashed=True))
    if hash_fn == "md5":
        def _bandkey(b):
            return F.array_join(
                F.slice(F.col("__sig__"), b * rows_per_band + 1, rows_per_band),
                ",")
    else:
        def _bandkey(b):
            return F.hash(
                F.slice(F.col("__sig__"), b * rows_per_band + 1, rows_per_band))
    banded = sigd.select(
        id_col,
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)), _bandkey)
        ).alias("__band__", "__bhash__"))
    return sh, banded


def minhash_candidates(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", *, k: int = 5,
                       n_hashes: int = 64, bands: int = 16,
                       seed: int = 42, hash_fn: str = "xxhash64") -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows, hash each band,
    equi-join on (band_idx, band_hash) to get candidate pairs (id_a < id_b).
    Returns distinct candidate pairs with their shingle arrays attached.

    Scale shape: the band self-join carries ONLY (id, band, band_hash) —
    document-sized shingle arrays never enter the ×bands fan-out or the
    band exchange (they used to, replicating each doc's k-gram set 16×
    through the shuffle, a corpus-scale killer). The distinct
    pair-id set is resolved first, then shingles are joined back once per
    side for the Jaccard verify.

    ``hash_fn="md5"`` switches BOTH nondeterministic-across-engines
    primitives to portable ones: token hashes become md5-derived (see
    :func:`shingle_hashes`) and the band key becomes the comma-joined
    band slice itself instead of ``F.hash`` over it — so an independent
    SQL engine can replay banding bit-for-bit and verify the whole
    candidate law. The string band key costs rows_per_band decimal
    renders per (doc, band) in the exchange vs one 32-bit murmur; keep
    the default for production corpora."""
    sh, banded = _shingle_and_band(df, id_col, text_col, k=k,
                                   n_hashes=n_hashes, bands=bands, seed=seed,
                                   hash_fn=hash_fn)
    # The self-join reads the banded (id, band, band_key) table from both
    # sides, so it is materialized once: without it the shingle +
    # minhash-signature pass ran twice per action (minhash_pairs_docs'
    # plan: 4 parquet scans, 2 with it). bands × ~16 bytes per doc — the
    # slim LSH key table minhash_index_write persists; the document-sized
    # shingle arrays stay streamed (re-derived per verify side).
    return _band_candidates(materialize(banded), sh, id_col)


def _band_candidates(band_a: DataFrame, sh_a: DataFrame, id_col: str,
                     band_b: DataFrame | None = None,
                     sh_b: DataFrame | None = None) -> DataFrame:
    """Distinct pairs sharing an LSH band, shingle sets attached:
    ``(id_a, id_b, sh_a, sh_b)`` for the self-join of ``band_a``,
    ``(new_id, hist_id, sh_a, sh_b)`` against ``band_b``."""
    names = _SELF if band_b is None else _CROSS
    ids = (_key_pairs(band_a, ["__band__", "__bhash__"], id_col, band_b,
                      names=names)
           .select(*names).distinct())
    return _attach(ids, sh_a, sh_a if sh_b is None else sh_b, id_col,
                   names=names, carry=_SETS)


def _verified_pairs(band_a: DataFrame, sh_a: DataFrame, id_col: str,
                    threshold: float, band_b: DataFrame | None = None,
                    sh_b: DataFrame | None = None) -> DataFrame:
    """The MinHash pair rule, written once: band candidates
    (:func:`_band_candidates`) whose exact shingle Jaccard is >=
    ``threshold``. ``(id_a, id_b, jaccard)`` within ``band_a``,
    ``(new_id, hist_id, jaccard)`` against ``band_b``."""
    return _jaccard_at_least(
        _band_candidates(band_a, sh_a, id_col, band_b, sh_b), threshold,
        _SELF if band_b is None else _CROSS)


def minhash_dedup_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", *, k: int = 5,
                        n_hashes: int = 64, bands: int = 16,
                        threshold: float = 0.8, seed: int = 42,
                        hash_fn: str = "xxhash64") -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified by exact Jaccard on
    shingle sets. Output: (id_a, id_b, jaccard) with jaccard >= threshold.
    ``hash_fn`` as in :func:`minhash_candidates` ("md5" = engine-portable
    hashing so the banding law is independently verifiable)."""
    sh, banded = _shingle_and_band(df, id_col, text_col, k=k,
                                   n_hashes=n_hashes, bands=bands, seed=seed,
                                   hash_fn=hash_fn)
    # both sides of the self-join read it, as in minhash_candidates
    return _verified_pairs(materialize(banded), sh, id_col, threshold)


def minhash_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  *, transitive: bool = False, keep_by: str | None = None,
                  **kw) -> DataFrame:
    """Drop near-duplicates. Default: a doc is removed when it near-matches
    any doc with a smaller id (single-pass representative rule — cheap, but
    a chain a~b~c keeps c when only b matched it). ``transitive=True`` runs
    :func:`dedup_clusters` connected components over the pair graph and
    keeps exactly one doc (the min id) per transitive cluster.

    ``keep_by`` (requires ``transitive=True``) keeps each cluster's
    best-scoring doc instead of the min id — the post-clustering survivor
    selection a curation pipeline actually wants (highest quality score /
    longest text per near-dup cluster), same law as
    :func:`exact_dedup`'s ``keep_by``: max score, min-id tiebreak, NULL
    scores lose. Elected by the same skew-safe map-side-combining
    argmax as exact_dedup over the slim (id, cluster, score) node
    table — a degenerate mega-cluster never funnels one reducer."""
    pairs = minhash_dedup_pairs(df, id_col, text_col, **kw)
    if keep_by is not None and not transitive:
        raise ValueError(
            "minhash_dedup: keep_by needs transitive=True — the "
            "single-pass representative rule has no cluster to score "
            "within (a~b~c chains make pairwise better-of ambiguous)")
    if transitive:
        clusters = dedup_clusters(pairs, df, id_col)
        if keep_by is None:
            keep = clusters.filter(F.col(id_col) == F.col("cluster")) \
                           .select(id_col)
        else:
            scored = clusters.join(df.select(id_col, keep_by), id_col)
            keep = _argmax_survivors(scored, "cluster", id_col,
                                     keep_by, F.min).select(id_col)
        return df.join(keep, id_col, "left_semi")
    return _drop_named(df, pairs, "id_b", id_col)


def exact_substring_dedup(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", *, k: int = 20,
                          out_col: str | None = None) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" §4.1) — remove every
    corpus-wide duplicated token run of >= ``k`` tokens, keeping one
    canonical occurrence. The paper builds a suffix array; the
    Spark-native equivalent hashes every consecutive ``k``-token
    window instead (a run of m >= k duplicated tokens duplicates all
    m-k+1 of its windows, so marking each non-canonical window's k
    token positions and unioning the marks reconstructs exactly the
    paper's MAXIMAL duplicated substring — overlap union = maximal
    run):

    1. whitespace tokens per doc (scan-fused);
    2. every k-token window posexplodes to a SLIM (id, pos, md5) row —
       token arrays never cross an exchange, only 32-char hashes;
    3. the canonical occurrence per hash is ``min(struct(id, pos))`` —
       a PARTIAL-AGGREGABLE reduction, deliberately NOT a
       ``row_number`` window: a boilerplate k-gram shared by millions
       of pages would funnel all its rows through one window reducer,
       while min() combines map-side so the hot hash costs one row per
       upstream partition;
    4. non-canonical occurrences (an anti-join on the elected struct)
       mark positions pos..pos+k-1; the removal set groups back to doc
       grain (bounded by duplicate volume, not corpus volume);
    5. docs rebuild from unmarked tokens (single-space joins — the
       same normalized-form law as :func:`~.webtext.c4_span_dedup`,
       replayed by the oracle).

    The engine-portable md5 window hash means a SQL oracle replays the
    whole law. Same 100 TB cost profile as c4_span_dedup: one corpus
    scan, one hash-keyed exchange of slim rows, one duplicate-bounded
    groupBy."""
    out_col = out_col or text_col
    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), r"\s+"),
                 lambda x: F.length(x) > 0).alias("__t__"))
    n = F.size("__t__")
    wins = toks.select(
        id_col,
        F.posexplode(
            F.when(n >= k,
                   F.transform(F.sequence(F.lit(0), n - k),
                               lambda i: F.md5(F.array_join(
                                   F.slice("__t__", i + 1, k), " "))))
             .otherwise(F.array().cast("array<string>"))
        ).alias("__pos__", "__h__"))
    canon = wins.groupBy("__h__").agg(
        F.min(F.struct(F.col(id_col).alias("i"),
                       F.col("__pos__").alias("p"))).alias("__c__"))
    dup = (wins.join(canon, "__h__")
               .filter((F.col(id_col) != F.col("__c__.i"))
                       | (F.col("__pos__") != F.col("__c__.p"))))
    rm = (dup.select(id_col,
                     F.explode(F.sequence(F.col("__pos__"),
                                          F.col("__pos__") + (k - 1)))
              .alias("__ridx__"))
             .groupBy(id_col)
             .agg(F.collect_set("__ridx__").alias("__rm__")))
    rebuilt = (toks.join(rm, id_col, "left")
                   .select(id_col,
                           F.array_join(
                               F.filter("__t__",
                                        lambda x, i:
                                        F.col("__rm__").isNull()
                                        | ~F.array_contains("__rm__", i)),
                               " ").alias(out_col)))
    base = df.drop(out_col) if out_col != text_col else df.drop(text_col)
    return base.join(rebuilt, id_col, "left")


# ---- SimHash ----------------------------------------------------------------

def simhash(text: Column, *, k: int = 2) -> Column:
    """64-bit SimHash over word k-grams: bit i is the sign of the sum over
    features of (2*bit_i(xxhash64(f)) - 1). Entirely Catalyst higher-order
    expressions — one scan, no UDF.

    Implementation notes: bit shifts take Python-int distances (Spark's
    shiftright/shiftleft don't accept Column distances), so per-bit exprs are
    unrolled; the 64-bit assembly folds two 32-bit halves with acc*2+bit
    (max 2^32 — no ANSI overflow) and shiftleft-ORs them together.
    """
    feats = shingles(text, k, mode="word")
    hashes = F.transform(feats, lambda s: F.xxhash64(s))
    # per-bit +/-1 contributions of one hash, MSB (bit 63) first
    bits_of = lambda h: F.array(*[
        (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
        for i in range(63, -1, -1)])
    counts = F.aggregate(hashes, F.array_repeat(F.lit(0), 64),
                         lambda acc, h: F.zip_with(acc, bits_of(h),
                                                   lambda x, y: x + y))
    bits = F.transform(counts, lambda c: F.when(c > 0, 1).otherwise(0).cast("bigint"))
    fold = lambda arr: F.aggregate(arr, F.lit(0).cast("bigint"),
                                   lambda acc, b: acc * 2 + b)
    hi = fold(F.slice(bits, 1, 32))
    lo = fold(F.slice(bits, 33, 32))
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def _hash64(c: Column, hash_fn: str) -> Column:
    """Full-width 64-bit token hash: xxhash64 (production) or the first
    60 bits of md5 ("md5" — engine-portable, see :func:`shingle_hashes`;
    15 hex chars so the value fits a signed bigint in any engine)."""
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")
    if hash_fn != "xxhash64":
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    return F.xxhash64(c)


def simhash_df(df: DataFrame, id_cols, text_col: str = "text", *, k: int = 2,
               out_col: str = "simhash", hash_fn: str = "xxhash64") -> DataFrame:
    """DataFrame-level SimHash: same semantics as :func:`simhash` but scales.

    The Column version folds a 64-wide expression tree per array element,
    which falls out of whole-stage codegen. Here we explode word k-grams and
    compute the per-bit counts as ordinary groupBy sums — partial (map-side)
    aggregation, codegen-friendly, one shuffle keyed by the doc id. Bit i of
    the result is set when the majority of feature hashes have bit i set
    (strictly more than half, matching the sign-of-sum rule).

    Width: counts for bits i and i+32 are PACKED into one long per aggregate
    (high/low 32-bit fields — safe because a doc's feature count < 2^31, so
    the low field can never carry into the high one). 33 aggregate buffers
    instead of 65 halves the partial-aggregation shuffle row; measured
    value-identical and equal-latency at sf0.1 (the local cost is the
    shingle scan, not the aggregate width).

    ``hash_fn="md5"`` swaps the token hash for the 60-bit md5-derived one
    (bits 60-63 then never reach majority, so the fingerprint is
    effectively 60-bit) — every downstream stage (bit counts, majority,
    fold) is plain integer SQL, so an independent engine reproduces the
    fingerprint exactly. Production stays on xxhash64.
    """
    import functools

    if isinstance(id_cols, str):
        id_cols = [id_cols]
    from ..dtutil import ensure_parallelism
    df = ensure_parallelism(df, *id_cols)
    feats = shingles(F.col(text_col), k, mode="word")
    # xxhash64(NULL) yields the seed, not NULL — mask the explode_outer
    # placeholder row of empty docs so it doesn't count as a feature
    ex = df.select(*id_cols, F.explode_outer(feats).alias("__f__")) \
           .select(*id_cols,
                   F.when(F.col("__f__").isNull(), F.lit(None))
                    .otherwise(_hash64(F.col("__f__"), hash_fn)).alias("__h__"))
    aggs = [F.count("__h__").alias("__n__")]
    for i in range(32):
        term = (F.shiftright("__h__", i).bitwiseAND(F.lit(1)) * F.lit(1 << 32)
                + F.shiftright("__h__", i + 32).bitwiseAND(F.lit(1)))
        aggs.append(F.sum(term).alias(f"__p{i}__"))
    counted = ex.groupBy(*id_cols).agg(*aggs)
    bit_exprs = []
    for i in range(32):
        hi_count = F.shiftright(F.col(f"__p{i}__"), 32)
        lo_count = F.col(f"__p{i}__").bitwiseAND(F.lit((1 << 32) - 1))
        bit_exprs.append(F.shiftleft(
            F.when(hi_count * 2 > F.col("__n__"), F.lit(1))
             .otherwise(F.lit(0)).cast("bigint"), i))
        bit_exprs.append(F.shiftleft(
            F.when(lo_count * 2 > F.col("__n__"), F.lit(1))
             .otherwise(F.lit(0)).cast("bigint"), i + 32))
    sim = functools.reduce(lambda a, b: a.bitwiseOR(b), bit_exprs)
    return counted.select(*id_cols, F.coalesce(sim, F.lit(0)).alias(out_col))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def hamming_dedup_pairs(df: DataFrame, hash_col: str,
                        id_col: str = "doc_id", *, max_distance: int = 3,
                        band_bits: int = 16) -> DataFrame:
    """Near-dup pairs for ANY 64-bit fingerprint column (SimHash, image
    dHash, audio fingerprints ...) by banded Hamming join: candidates
    share at least one of the ``64 // band_bits`` bands — the pigeonhole
    principle guarantees full recall whenever
    ``max_distance < 64 // band_bits`` (<=3 differing bits cannot dirty
    all four 16-bit bands) — then exact ``bit_count(xor)`` verify.

    Scale shape: the banding explode carries only (id, hash, band, key);
    the self-join fans out per (band, key) bucket, never all-pairs.

    The self-join reads the slim (id, fingerprint) frame from both sides,
    so it is materialized once before banding (:func:`materialize`):
    whatever computed the fingerprint (the fused image/audio decode
    mapInPandas, the simhash aggregation) ran twice per action without it
    (image_dhash_dedup_docs' plan: 4 MapInPandas nodes, 2 with it). 16
    bytes/row: fingerprint once, shuffle 8-byte hashes, never pixels."""
    slim = materialize(df.select(F.col(id_col),
                                 F.col(hash_col).alias("__fp__")))
    return _hamming_pairs(slim, "__fp__", id_col, names=_SELF,
                          fp_names=("fp_a", "fp_b"),
                          max_distance=max_distance, band_bits=band_bits)


def _hamming_pairs(a: DataFrame, fp_col: str, a_id: str,
                   b: DataFrame | None = None, b_id: str | None = None, *,
                   names: tuple, fp_names: tuple, max_distance: int,
                   band_bits: int) -> DataFrame:
    """Both faces of the banded Hamming join (``b=None``: self-join):
    each row explodes to its ``64 // band_bits`` (band, key) rows, the
    candidate pairs share a band key, one row per pair carries the two
    fingerprints to the exact ``bit_count(xor)`` verify."""
    def banded(t, tid):
        return t.select(tid, fp_col, F.posexplode(F.array(*[
            F.shiftright(F.col(fp_col), bi * band_bits)
             .bitwiseAND(F.lit((1 << band_bits) - 1))
            for bi in range(64 // band_bits)])).alias("__band__", "__key__"))
    pairs = _key_pairs(banded(a, a_id), ["__band__", "__key__"], a_id,
                       None if b is None else banded(b, b_id), b_id,
                       names=names, carry={fp_col: fp_names})
    return (pairs.dropDuplicates(list(names))
                 .withColumn("distance", hamming64(F.col(fp_names[0]),
                                                   F.col(fp_names[1])))
                 .filter(F.col("distance") <= max_distance)
                 .select(*names, "distance"))


def hamming_pairs_between(new: DataFrame, hist: DataFrame, fp_col: str,
                          *, new_id: str = "doc_id",
                          hist_id: str = "doc_id", max_distance: int = 3,
                          band_bits: int = 16) -> DataFrame:
    """Cross-corpus variant of :func:`hamming_dedup_pairs` (the
    fingerprint face of :func:`minhash_pairs_between`): (new row,
    historical row) pairs within ``max_distance`` bits — band join
    between the two tables, never a self-join of their union, so a
    crawl batch probes an accepted corpus without re-pairing the corpus
    against itself. Recall-complete while
    ``max_distance < 64 // band_bits`` (pigeonhole)."""
    return _hamming_pairs(new, fp_col, new_id, hist, hist_id, names=_CROSS,
                          fp_names=("fp_new_id", "fp_hist_id"),
                          max_distance=max_distance, band_bits=band_bits)


def fingerprint_dedup(df: DataFrame, fp_col: str, id_col: str = "doc_id",
                      *, keep: str = "min",
                      keep_by: str | None = None) -> DataFrame:
    """Exact-fingerprint dedup: ONE survivor per identical 64-bit
    fingerprint value — the distance-0 dedup face of the media hash
    family (at crawl scale most duplicate images/audio are
    dHash-identical, and exact grouping is one hash-keyed shuffle with
    map-side combine, no band join needed; use
    :func:`hamming_dedup_pairs` + :func:`dedup_clusters` when near-dups
    at distance > 0 must also collapse). Same survivor contract as
    :func:`exact_dedup`: smallest (or largest) id, or the best
    ``keep_by`` score with id tie-break; NULL fingerprints (undecodable
    media) route around the dedup untouched."""
    keep_fn = F.min if keep == "min" else F.max
    nulls = df.filter(F.col(fp_col).isNull())
    nn = df.filter(F.col(fp_col).isNotNull())
    if keep_by is not None:
        # skew-safe argmax election, same as exact_dedup
        return _argmax_survivors(nn, fp_col, id_col, keep_by, keep_fn) \
            .unionByName(nulls)
    survivors = nn.groupBy(fp_col).agg(keep_fn(id_col).alias(id_col))
    return nn.join(survivors, [fp_col, id_col], "left_semi") \
             .unionByName(nulls)


def shared_fingerprint_pairs(df: DataFrame, fp_col: str,
                             id_col: str = "doc_id", *,
                             min_shared: int = 1,
                             max_df: int | None = None) -> DataFrame:
    """Pairs whose array-fingerprint columns share >= ``min_shared``
    DISTINCT values — the set-overlap join for multi-fingerprint media
    (video frame dHashes, audio chunk hashes, winnow fingerprint sets).

    Scale shape: one explode to a distinct (id, fp) inverted index —
    8-byte values, never the source arrays — then the self-join fans out
    per fingerprint bucket and a count aggregate applies the overlap
    threshold. A fingerprint shared by m rows costs m^2/2 candidate
    rows; dedup fingerprints are near-unique by construction, so there
    is normally no stopword-style hot key — but a degenerate
    constant-content corpus (every video the same test pattern) makes
    one, so ``max_df`` drops fingerprints shared by more than ``max_df``
    rows before the self-join (:func:`_admit`, the cap shared with
    :func:`ngram_jaccard_pairs` and :func:`winnow_dedup_pairs`): candidate
    volume is then bounded by ``max_df^2/2`` per fingerprint. Pairs whose ONLY
    overlap is capped-out fingerprints are not emitted — the standard
    near-dup recall tradeoff: a fingerprint that frequent identifies a
    boilerplate artifact, not a duplicate pair.

    The self-join and the ``max_df`` aggregation read the distinct (id,
    fp) inverted index, so it is materialized once (:func:`materialize`):
    the upstream fingerprint pass (the fused video frame-decode
    mapInPandas) ran once per reference without it (video_dedup_docs'
    plan: 2 MapInPandas nodes, 1 with it). 16 bytes/row, the same order
    as what already crossed the distinct's exchange."""
    inv = materialize(df.select(F.col(id_col),
                                F.explode(fp_col).alias("__fp__")).distinct())
    return (_key_pairs(_admit(inv, "__fp__", max_df), ["__fp__"], id_col)
             .groupBy(*_SELF)
             .agg(F.count(F.lit(1)).alias("shared"))
             .filter(F.col("shared") >= min_shared))


def simhash_dedup_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", *, max_distance: int = 3,
                        band_bits: int = 16) -> DataFrame:
    """Near-dup pairs by SimHash — :func:`simhash_df` then the generic
    :func:`hamming_dedup_pairs` banded join.

    NULL/empty text routes AROUND the pairing (same law as exact_dedup's
    NULL handling): featureless docs all hash to simhash 0, so without
    the filter every empty doc pairs with every other at distance 0 —
    content-free "duplicates" that would wrongly delete missing-text rows."""
    sh = simhash_df(df.filter(F.length(F.trim(F.col(text_col))) > 0),
                    [id_col], text_col, out_col="__sim__")
    return hamming_dedup_pairs(sh, "__sim__", id_col,
                               max_distance=max_distance,
                               band_bits=band_bits)


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", *, k: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing at least
    one shingle (inverted-index self-join). Correct but heavier than MinHash;
    intended for verification / small corpora.

    ``max_df`` caps the document frequency of shingles admitted to the
    inverted index: the self-join is quadratic in per-shingle DF, so one
    stopword shingle shared by m documents creates an m×m hot key. With the
    cap, a pair is reported only if it shares at least one shingle appearing
    in ≤ max_df documents (the Jaccard verify still uses FULL shingle sets).
    Any corpus-scale run should set it; ``None`` keeps exact
    share-any-shingle candidate semantics.

    Scale shape mirrors :func:`minhash_candidates`: the inverted-index join
    carries only (id, gram); shingle arrays join back after the distinct
    pair set is known.

    The plan reads the shingled frame from six branches (a-side, b-side,
    the admitted-gram aggregation under each, and both `_attach` joins),
    so it is materialized once (:func:`materialize`; without it,
    ngram_jaccard_docs' plan held six parquet scans, each re-shingling).
    It is corpus-sized (id + shingle set), the same order as one shuffle
    of the corpus — acceptable for the verification/small-corpus role this
    operator documents; MinHash remains the at-scale path."""
    sh = materialize(df.select(
        F.col(id_col),
        shingles(F.col(text_col), k, mode="word").alias("__sh__")))
    inv = _admit(sh.select(id_col, F.explode("__sh__").alias("__g__")),
                 "__g__", max_df)
    ids = _key_pairs(inv, ["__g__"], id_col).select(*_SELF).distinct()
    return _jaccard_at_least(_attach(ids, sh, sh, id_col, carry=_SETS),
                             threshold)


def winnow_dedup_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", *, k: int = 8, w: int = 4,
                       min_shared: int = 2, max_df: int | None = 32
                       ) -> DataFrame:
    """SUBSTRING-level near-dup pairs via winnowing fingerprints — the
    candidate stage of exact-substring training-data dedup (Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"; MOSS
    fingerprinting, Schleimer et al. SIGMOD'03). Two documents share a
    winnow fingerprint iff they share a verbatim substring of at least
    ``k + w - 1`` characters, so — unlike token-set Jaccard — this catches
    a long quoted/boilerplate block inside otherwise-different documents.

    Returns ``(id_a, id_b, shared_fps, containment)`` for pairs sharing
    >= ``min_shared`` fingerprints, where containment = shared / min(|A|,
    |B|) fingerprints — a copy-detection score (1.0 ≈ one document's
    fingerprinted content is fully inside the other).

    Scale shape (same discipline as :func:`ngram_jaccard_pairs`): the
    inverted-index self-join carries only (id, fp) longs; ``max_df`` caps
    per-fingerprint document frequency so one boilerplate block shared by
    m docs cannot create an m×m hot key (pairs must then share a
    fingerprint in <= max_df docs; the containment denominator still uses
    full fingerprint counts). Fingerprinting itself is the Arrow
    pandas_udf in text.py (vectorized numpy rolling hash per batch).

    The inverted-index self-join reads the per-doc fingerprint frame from
    both sides and the ``max_df`` aggregation once more, and the optimizer
    re-evaluates the UDF around pushed filters (guide §4.4), so the frame
    is materialized once (:func:`materialize`; without it,
    winnow_pairs_docs' plan held eight ArrowEvalPython nodes for one
    logical fingerprint pass, 1 with it). It is (id, array<long>) — one
    long per winnow window, ~w× smaller than the text it fingerprints."""
    from ..dtutil import ensure_parallelism
    from ..functions.text import winnow_fingerprints

    fps = materialize(ensure_parallelism(df).select(
        F.col(id_col),
        winnow_fingerprints(F.col(text_col), k=k, w=w).alias("__fp__")))
    inv = _admit(fps.select(id_col, F.size("__fp__").alias("__nf__"),
                            F.explode("__fp__").alias("__h__")),
                 "__h__", max_df)
    pairs = (_key_pairs(inv, ["__h__"], id_col,
                        carry={"__nf__": ("__na__", "__nb__")})
              .groupBy(*_SELF, "__na__", "__nb__")
              .agg(F.count(F.lit(1)).alias("shared_fps"))
              .filter(F.col("shared_fps") >= min_shared))
    containment = (F.col("shared_fps").cast("double")
                   / F.least("__na__", "__nb__"))
    return pairs.select("id_a", "id_b", "shared_fps",
                        F.round(containment, 4).alias("containment"))


def similarity_join(left: DataFrame, right: DataFrame,
                    text_col: str = "text", *,
                    left_id: str = "doc_id", right_id: str = "doc_id",
                    k: int = 2, threshold: float = 0.5,
                    prefix_filter: bool = True,
                    max_df: int | None = None) -> DataFrame:
    """Cross-table fuzzy (set-similarity) join: pairs (left row, right row)
    whose word-``k``-gram Jaccard similarity is >= ``threshold``. The
    entity-matching / record-linkage primitive (e.g. match a crawl against
    a curated corpus) — reference has no analog; the per-corpus variant is
    :func:`ngram_jaccard_pairs`.

    Scale design — prefix filtering (PPJoin family: Chaudhuri et al.
    ICDE'06, Xiao et al. WWW'08): if J(A,B) >= t then A and B must share a
    token among the first ``|A| - ceil(t*|A|) + 1`` of their tokens under
    ANY global total order. Ordering by ascending document frequency makes
    those prefix tokens the RAREST ones, so the inverted-index join fans
    out on cold keys instead of stopwords. The candidate join carries only
    (id, token); full token arrays join back per side for the exact
    Jaccard verify, so document-sized arrays never enter the token
    exchange. The DF table is vocab-sized and joined by token; pass
    ``max_df`` to additionally drop ubiquitous tokens from the index
    entirely (candidates must then share a token in <= max_df docs).

    With ``prefix_filter=False`` the index holds ALL tokens
    (share-any-token candidates) — exact even for threshold 0, at the cost
    of stopword-sized fan-out."""
    from ..dtutil import ensure_parallelism
    left, right = ensure_parallelism(left), ensure_parallelism(right)
    lt = left.select(F.col(left_id).alias("__lid__"),
                     shingles(F.col(text_col), k, mode="word").alias("__sh__"))
    rt = right.select(F.col(right_id).alias("__rid__"),
                      shingles(F.col(text_col), k, mode="word").alias("__sh__"))
    # __n__ = |A| from the (distinct) shingle array BEFORE exploding: the
    # prefix-length law |A| - ceil(t*|A|) + 1 is defined over the FULL
    # token set. Computing it after the dfreq join (an earlier shape)
    # undercounted |A| when max_df dropped tokens, shrinking prefixes and
    # losing candidate pairs beyond the documented index-truncation
    # effect. Carrying the size through the explode costs no shuffle.
    linv = lt.select("__lid__", F.size("__sh__").alias("__n__"),
                     F.explode("__sh__").alias("__g__"))
    rinv = rt.select("__rid__", F.size("__sh__").alias("__n__"),
                     F.explode("__sh__").alias("__g__"))

    # global document frequency over BOTH sides: the prefix order must be
    # one total order shared by the two tables or the filter loses pairs
    dfreq = (linv.select(F.col("__g__"))
                 .unionAll(rinv.select("__g__"))
                 .groupBy("__g__").agg(F.count(F.lit(1)).alias("__df__")))
    if max_df is not None:
        # max_df only controls which tokens ENTER the index (candidates
        # must share a token in <= max_df docs); it must not shrink __n__
        dfreq = dfreq.filter(F.col("__df__") <= max_df)
    # _prefix reads dfreq from both sides, so it is materialized once:
    # without it the union + count aggregation (a full shingle+explode
    # pass over both tables) ran twice (similarity_join_docs' plan: 8
    # parquet scans). It is the PPJoin global token order itself (distinct
    # gram, df) — vocab-sized, the table the published algorithm computes
    # in its first pass — while the corpus sides stay streamed.
    dfreq = materialize(dfreq)

    def _prefix(inv: DataFrame, id_name: str) -> DataFrame:
        toks = inv.join(dfreq, "__g__")
        if not prefix_filter:
            return toks.select(id_name, "__g__")
        w = W.partitionBy(id_name).orderBy("__df__", "__g__")
        ranked = toks.select(
            id_name, "__g__", "__n__",
            F.row_number().over(w).alias("__rk__"))
        # ceil over binary floats over-ceils at exact products
        # (0.29*100 = 29.000000000000004 -> ceil 30), shortening the
        # prefix by one and silently losing qualifying pairs; the 1e-9
        # nudge keeps ceil exact for any |A| the index can hold while
        # never admitting a sub-threshold prefix (t*n and t*n - 1e-9
        # share a ceiling unless t*n is within 1e-9 of an integer)
        keep = F.col("__rk__") <= (
            F.col("__n__")
            - F.ceil(F.lit(threshold) * F.col("__n__") - F.lit(1e-9)) + 1)
        return ranked.filter(keep).select(id_name, "__g__")

    names = ("__lid__", "__rid__")
    ids = (_key_pairs(_prefix(linv, "__lid__"), ["__g__"], "__lid__",
                      _prefix(rinv, "__rid__"), "__rid__", names=names)
           .select(*names).distinct())
    sets = {"__sh__": ("__sha__", "__shb__")}
    out = _jaccard_at_least(
        _attach(ids, lt, rt, *names, names=names, carry=sets), threshold,
        names, sets["__sh__"])
    return out.withColumnsRenamed({"__lid__": "left_id",
                                   "__rid__": "right_id"})


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text", *,
                  k: int = 13, min_hits: int = 1,
                  broadcast_benchmark: bool = True) -> DataFrame:
    """Benchmark decontamination: flag training documents whose text shares
    >= ``min_hits`` distinct word ``k``-grams with an evaluation set — the
    published GPT-3 appendix-C / PaLM procedure (13-gram overlap) every
    serious pre-training pipeline runs before training.

    Scale shape: the BENCHMARK side is distinct-exploded (eval suites are
    tiny next to a 100 TB corpus) and broadcast by default, so the corpus
    side — exploded to (id, gram) with no arrays through any exchange —
    meets it in a map-side join; one groupBy(id) counts hits. The corpus
    is scanned twice (grams + the final annotate join on ``id_col``); no
    self-join, no skew (hot grams fan out only within the broadcast hash
    lookup). Set ``broadcast_benchmark=False`` for eval sets too big to
    broadcast (falls back to a shuffle join keyed by gram).

    Returns the corpus plus ``contam_hits`` (distinct shared k-grams, 0
    when clean) and ``contaminated``. Callers filter; keeping the flag
    (not dropping rows) preserves audit trails."""
    from ..dtutil import ensure_parallelism

    ev = (benchmark
          .select(F.explode(shingles(F.col(text_col), k, mode="word"))
                   .alias("__g__"))
          .distinct())
    if broadcast_benchmark:
        ev = F.broadcast(ev)
    # shingling is per-row CPU; a single-file corpus scan must not run the
    # k-gram transform on one core
    cg = ensure_parallelism(corpus).select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), k, mode="word")).alias("__g__"))
    hits = (cg.join(ev, "__g__")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("contam_hits")))
    return (corpus.join(hits, id_col, "left")
                  .withColumn("contam_hits",
                              F.coalesce(F.col("contam_hits"), F.lit(0)))
                  .withColumn("contaminated",
                              F.col("contam_hits") >= min_hits))


def dedup_clusters(pairs: DataFrame, nodes: DataFrame, id_col: str = "doc_id",
                   *, max_iter: int = 25,
                   driver_threshold: int = 500_000) -> DataFrame:
    """Transitive near-duplicate clusters: connected components over the
    candidate-pair graph, returning (id, cluster) with cluster = the
    component's smallest id. Closes the gap noted in :func:`minhash_dedup`
    (single-pass representative rule misses transitive chains a~b~c).

    Min-label propagation: every node starts labeled with itself; each
    round takes the min of its own and its neighbors' labels; fixpoint in
    <= graph-diameter rounds (near-dup components are shallow). Each round
    is one join + one groupBy keyed by node id, materialized to truncate
    the iterative lineage (the standard Spark iterative-algorithm
    pattern), and an early-exit convergence check — the per-round driver
    cost is one count, bounded by max_iter.

    Small-graph fast path: near-dup candidate pairs are SPARSE relative
    to the corpus (banded LSH emits a sliver of n²); when the pair count
    is ≤ ``driver_threshold`` the component structure fits the driver, so
    a union-find over the collected edges replaces max_iter×3 distributed
    jobs — the node table itself is never collected (singletons label
    themselves through a broadcast left join). The propagation path
    remains for genuinely huge pair sets; ``driver_threshold=0`` forces
    it."""
    # The threshold count and the fast path's collect (or, on the
    # propagation path, the edges build) are separate actions over the
    # slim (id_a, id_b) pair set, so it is materialized once: otherwise
    # the whole upstream pair pipeline (banded join + exact verify)
    # re-executed per action. Two longs per pair.
    pairs = materialize(pairs.select("id_a", "id_b"))
    n_pairs = pairs.limit(driver_threshold + 1).count() \
        if driver_threshold else driver_threshold + 1
    if n_pairs <= driver_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in pairs.select("id_a", "id_b").collect():
            ra, rb = find(row["id_a"]), find(row["id_b"])
            if ra != rb:
                # root at the smaller id so cluster = component min
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        lab = [(x, find(x)) for x in list(parent)]
        ndf = nodes.select(F.col(id_col)).distinct()
        if not lab:
            return ndf.withColumn("cluster", F.col(id_col))
        ldf = ndf.sparkSession.createDataFrame(
            lab, [id_col, "__lab__"])
        return (ndf.join(F.broadcast(ldf), id_col, "left")
                   .select(id_col,
                           F.coalesce(F.col("__lab__"), F.col(id_col))
                            .alias("cluster")))

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = (edges.unionByName(edges.select(F.col("dst").alias("src"),
                                            F.col("src").alias("dst")))
                  .distinct())
    edges = materialize(edges, eager=False)
    # eager: iteration 1's action reads `labels` in BOTH the neighbor join
    # and the new-labels join
    labels = materialize(nodes.select(F.col(id_col).alias("node")).distinct()
                              .withColumn("label", F.col("node")))
    changed = 0
    for _ in range(max_iter):
        neigh = (edges.join(labels, edges["src"] == labels["node"])
                      .groupBy("dst").agg(F.min("label").alias("__nl__")))
        new_labels = materialize(
            labels.join(neigh, labels["node"] == neigh["dst"], "left")
                  .select(F.col("node"),
                          F.least(F.col("label"),
                                  F.coalesce(F.col("__nl__"), F.col("label")))
                           .alias("label")))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                   .filter(F.col("n.label") != F.col("o.label")).limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        import warnings
        warnings.warn(
            f"dedup_clusters: label propagation did NOT converge within "
            f"max_iter={max_iter} rounds — returned cluster labels are "
            f"incomplete for components whose diameter exceeds max_iter; "
            f"raise max_iter.", RuntimeWarning, stacklevel=2)
    return labels.select(F.col("node").alias(id_col),
                         F.col("label").alias("cluster"))


# --------------------------------------------------------------------------
# Incremental dedup against a historical corpus (exact fingerprint probe)
# --------------------------------------------------------------------------

def incremental_dedup(new_batch: DataFrame, historical: DataFrame,
                      text_col: str = "text") -> DataFrame:
    """Keep only rows of ``new_batch`` whose normalized text was NOT seen
    in ``historical`` — the daily-ingest primitive: dedup a new crawl
    batch against a 100 TB historical corpus WITHOUT shuffling either
    side. NULL text is never a duplicate: those rows always pass.

    A row drops iff its fingerprint (md5 of the normalized text, shared
    with :func:`exact_dedup`) occurs in ``historical``. One JVM plan, no
    Python: the batch's fingerprints are broadcast into a semi join that
    scans the history once and keeps the (at most batch-sized) seen set,
    and the batch anti-joins that set, broadcast too. The build side is
    the fingerprints as they come, not their distinct set: a semi join
    only tests membership, and a distinct would cost a shuffle per
    batch. 128-bit fingerprints keep collision odds below 1e-18 at 1e10
    docs, and full text never crosses a join.

    Beyond-reference (training-pipeline mandate)."""
    fp = new_batch.withColumn(
        "__fp__", F.md5(normalize_text(F.col(text_col))))
    nn = fp.filter(F.col("__fp__").isNotNull())
    seen = (historical
            .select(F.md5(normalize_text(F.col(text_col))).alias("__fp__"))
            .join(F.broadcast(nn.select("__fp__")), "__fp__", "left_semi"))
    return (nn.join(F.broadcast(seen), "__fp__", "left_anti")
              .unionByName(fp.filter(F.col("__fp__").isNull()))
              .select(*new_batch.columns))


def minhash_pairs_between(new_batch: DataFrame, historical: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text", *,
                          k: int = 5, n_hashes: int = 64, bands: int = 16,
                          threshold: float = 0.8, seed: int = 42,
                          hash_fn: str = "xxhash64") -> DataFrame:
    """Near-duplicate pairs ACROSS two corpora — the NEAR-dup analog of
    :func:`incremental_dedup`'s exact check: every (new_id, hist_id) whose
    shingle Jaccard >= threshold, found via one LSH band equi-join between
    the two banded tables (never an all-pairs comparison).

    Scale shape mirrors :func:`minhash_candidates`: the band join carries
    only (id, band, band_key) from EACH side; shingle arrays are joined
    back once per side for the exact-Jaccard verify on the (tiny)
    candidate set. Both corpora are banded with the SAME (k, n_hashes,
    bands, seed, hash_fn) — recall guarantees only hold when the
    parameters match (:func:`minhash_index_write` persists them for
    cross-run probes). Within-batch duplicates are NOT reported; run
    :func:`minhash_dedup` on the batch separately if needed."""
    sh_n, band_n = _shingle_and_band(new_batch, id_col, text_col, k=k,
                                     n_hashes=n_hashes, bands=bands,
                                     seed=seed, hash_fn=hash_fn)
    sh_h, band_h = _shingle_and_band(historical, id_col, text_col, k=k,
                                     n_hashes=n_hashes, bands=bands,
                                     seed=seed, hash_fn=hash_fn)
    return _verified_pairs(band_n, sh_n, id_col, threshold, band_h, sh_h)


def minhash_dedup_incremental(new_batch: DataFrame, historical: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text", **kw) -> DataFrame:
    """Rows of ``new_batch`` with NO near-duplicate in ``historical`` —
    the continuous-crawl near-dup filter (RefinedWeb/FineWeb keep a
    MinHash index of everything accepted so far and drop new docs that
    band-match it). Keyword args as :func:`minhash_pairs_between`.
    One anti join on the (slim) matched-id set; new-batch text never
    shuffles."""
    pairs = minhash_pairs_between(new_batch, historical, id_col, text_col,
                                  **kw)
    return _drop_named(new_batch, pairs, "new_id", id_col)


def _index_params(path: str, op: str, params: dict, *,
                  create: bool = False) -> str:
    """Check ``params`` against the ones stored in the MinHash index at
    ``path`` (``<path>/params.json``) and return the local path. A
    mismatch raises: a probe with other banding parameters silently finds
    nothing. A missing index raises too, unless ``create``, which stores
    ``params`` for the batches to come. Read and written on the driver,
    so the check runs no Spark job."""
    import json
    import os

    from ..sources.io import _require_local_path

    path = _require_local_path(path, op)
    meta = os.path.join(path, "params.json")
    if not os.path.exists(meta):
        if not create:
            raise ValueError(f"{op}: no minhash index at {path}")
        os.makedirs(path, exist_ok=True)
        with open(meta + ".tmp", "w") as f:
            json.dump(params, f)
        os.replace(meta + ".tmp", meta)
        return path
    with open(meta) as f:
        stored = json.load(f)
    bad = {p: (stored.get(p), v) for p, v in params.items()
           if stored.get(p) != v}
    if bad:
        raise ValueError(
            f"minhash index at {path} was built with different parameters "
            f"(stored, requested): {bad} — near-dup recall guarantees only "
            f"hold when banding parameters match; rebuild the index or "
            f"pass the stored parameters.")
    return path


def _index_write(sh: DataFrame, banded: DataFrame, path: str,
                 batch_id: int) -> None:
    """Write one batch of shingle sets and band keys into the MinHash
    index at ``path``: ``bands/batch_id=N`` and ``shingles/batch_id=N``,
    each by dynamic partition overwrite, so a rerun of ``batch_id``
    rewrites that batch and no other."""
    from ..sources.io import _write_batch

    _write_batch(banded, path + "/bands", batch_id)
    _write_batch(sh, path + "/shingles", batch_id)


def _index_pairs(band_n: DataFrame, sh_n: DataFrame, path: str,
                 id_col: str, threshold: float, op: str,
                 batch_id: int | None = None) -> DataFrame:
    """``(new_id, hist_id, jaccard)`` pairs of a banded batch against the
    MinHash index at ``path``, batch ``batch_id`` left out (none when
    ``None``). The index side is read pre-banded: only its band keys and
    the candidates' shingle sets are scanned. An index with no such batch
    is empty history."""
    from ..sources.io import _batch_history

    spark = band_n.sparkSession
    band_h = _batch_history(spark, path, batch_id, op, "/bands")
    if band_h is None:
        band_h, sh_h = band_n.limit(0), sh_n.limit(0)
    else:
        sh_h = _batch_history(spark, path, batch_id, op, "/shingles")
    return _verified_pairs(band_n, sh_n, id_col, threshold, band_h, sh_h)


def minhash_index_write(df: DataFrame, path: str, id_col: str = "doc_id",
                        text_col: str = "text", *, k: int = 5,
                        n_hashes: int = 64, bands: int = 16, seed: int = 42,
                        hash_fn: str = "xxhash64", batch_id: int = 0) -> None:
    """Persist the LSH index of a corpus for cross-run incremental dedup,
    one batch at a time: ``<path>/bands/batch_id=N`` (id, band,
    band_key), ``<path>/shingles/batch_id=N`` (id, shingle set, for the
    exact verify) and ``<path>/params.json``, which pins
    k/n_hashes/bands/seed/hash_fn/id_col. The first write stores the
    parameters; a later write or probe with other ones raises before
    anything is written. Each batch is written by dynamic partition
    overwrite: writing ``batch_id=N`` again, for instance after a failed
    write, replaces that batch and keeps the others. Ids must be unique
    across batches. The path must be local (the batches are listed with
    ``os.listdir``); any other scheme raises.
    :func:`~tech_ml_dataset_spark.streaming.windows.neardup_batch_apply`
    keeps its ``<corpus>/index`` in this layout."""
    banding = dict(k=k, n_hashes=n_hashes, bands=bands, seed=seed,
                   hash_fn=hash_fn)
    path = _index_params(path, "minhash_index_write",
                         dict(banding, id_col=id_col), create=True)
    sh, banded = _shingle_and_band(df, id_col, text_col, **banding)
    _index_write(sh, banded, path, batch_id)


def minhash_index_probe(new_batch: DataFrame, path: str,
                        id_col: str = "doc_id", text_col: str = "text", *,
                        k: int = 5, n_hashes: int = 64, bands: int = 16,
                        threshold: float = 0.8, seed: int = 42,
                        hash_fn: str = "xxhash64") -> DataFrame:
    """Band ``new_batch`` and join it against every batch of a persisted
    LSH index (:func:`minhash_index_write`): (new_id, hist_id, jaccard)
    pairs with jaccard >= threshold. Validates the banding parameters
    against the index's stored ones first. The historical side is read
    pre-banded (no re-shingling of the 100 TB corpus); only the band keys
    and the candidate rows' shingle sets are scanned."""
    banding = dict(k=k, n_hashes=n_hashes, bands=bands, seed=seed,
                   hash_fn=hash_fn)
    path = _index_params(path, "minhash_index_probe",
                         dict(banding, id_col=id_col))
    sh_n, band_n = _shingle_and_band(new_batch, id_col, text_col, **banding)
    return _index_pairs(band_n, sh_n, path, id_col, threshold,
                        "minhash_index_probe")


def fuzzy_join(left: DataFrame, right: DataFrame, text_col: str = "text",
               *, left_id: str = "doc_id", right_id: str = "doc_id",
               max_dist: int = 2, q: int = 3) -> DataFrame:
    """Edit-distance join: (left_id, right_id, dist) for every cross pair
    with levenshtein(a, b) <= ``max_dist`` — the entity-resolution /
    record-linkage primitive for SHORT strings (names, titles, URLs,
    product codes; the reference has no analog). For document-length text
    use :func:`similarity_join` / MinHash — per-row gram extraction here
    is O(len²) (UTF-8 substring addressing), fine at name length, wrong
    at document length.

    EXACT, not approximate: candidates come from the q-gram COUNT FILTER
    (Gravano et al., VLDB'01 "Approximate String Joins ... (Almost) for
    Free") — one edit destroys at most q of a string's |s|-q+1 grams, so
    ed(a,b) <= k implies the MULTISET gram intersection is at least
    max(|a|,|b|) - q + 1 - k·q, and ||a|-|b|| <= k. Both bounds are
    theorems, so the candidate set provably contains every true pair;
    levenshtein verifies exactly. Multiset counting matters ("aaaa" has
    one DISTINCT 3-gram): per-(id, gram) counts aggregate BEFORE the gram
    join and intersections sum ``least(ca, cb)`` — the join never fans
    out on repeated grams within one string.

    Strings too short for the bound to bite (max(|a|,|b|) < q + k·q makes
    the threshold non-positive, and |s| < q has no grams at all) take a
    LENGTH-BAND join instead: each short left string fans out to the 2k+1
    admissible right lengths — complete because ed >= length difference.
    Short-string volume is what it is (the filter is the length alone);
    at corpus scale dedupe short strings to their distinct domain first.

    Scale shape: the gram join carries (id, len, gram, count) — never the
    strings; strings join back only for the candidate verify. Gram keys
    are frequency-skewed ("000" in zero-padded ids) — the per-(id, gram)
    pre-aggregation bounds per-key rows to one per DISTINCT id, the same
    map-side discipline as the other inverted-index joins here."""
    from ..dtutil import ensure_parallelism
    k = int(max_dist)
    if k < 0:
        raise ValueError("max_dist must be >= 0")
    lmin = q + k * q  # max(|a|,|b|) below this -> count bound <= 0

    def _side(df, id_col, ida, sa, la):
        s = ensure_parallelism(df).filter(F.col(text_col).isNotNull()) \
            .select(F.col(id_col).alias(ida),
                    F.col(text_col).alias(sa)) \
            .withColumn(la, F.length(sa))
        # guard |s| < q with CASE, not greatest(,0): sequence(1, 0) DESCENDS
        # to [1, 0] (Spark auto-steps -1), which emitted two spurious
        # truncated grams per short string — every short string then hit
        # the gram index under hot keys like '' (results stayed
        # correct only because the levenshtein verify filtered them)
        grams = F.expr(
            f"CASE WHEN {la} >= {q} THEN "
            f"transform(sequence(1, {la} - {q - 1}),"
            f" i -> substring({sa}, i, {q})) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END")
        g = (s.select(ida, la, F.explode(grams).alias("__g__"))
              .groupBy(ida, la, "__g__")
              .agg(F.count(F.lit(1)).alias(f"__c{ida}__")))
        return s, g

    ls, lg = _side(left, left_id, "__lid__", "__sa__", "__ll__")
    rs, rg = _side(right, right_id, "__rid__", "__sb__", "__rl__")

    cand = (lg.join(rg, "__g__")
              .filter(F.abs(F.col("__ll__") - F.col("__rl__")) <= k)
              .groupBy("__lid__", "__rid__", "__ll__", "__rl__")
              .agg(F.sum(F.least(F.col("__c__lid____"),
                                 F.col("__c__rid____"))).alias("__sh__"))
              .filter(F.col("__sh__")
                      >= F.greatest("__ll__", "__rl__") - (q - 1) - k * q)
              .select("__lid__", "__rid__"))
    # short pairs (both sides below the bound's bite): length-band join
    lsh = ls.filter(F.col("__ll__") < lmin).select(
        "__lid__", F.explode(F.sequence(F.col("__ll__") - k,
                                        F.col("__ll__") + k)).alias("__rl__"))
    rsh = rs.filter(F.col("__rl__") < lmin).select("__rid__", "__rl__")
    cand = cand.unionByName(lsh.join(rsh, "__rl__")
                               .select("__lid__", "__rid__")).distinct()
    out = (cand.join(ls.select("__lid__", "__sa__"), "__lid__")
               .join(rs.select("__rid__", "__sb__"), "__rid__")
               .withColumn("dist", F.levenshtein("__sa__", "__sb__"))
               .filter(F.col("dist") <= k))
    return out.select(F.col("__lid__").alias("left_id"),
                      F.col("__rid__").alias("right_id"), "dist")


def fuzzy_dedup_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", *, max_dist: int = 2,
                      q: int = 3) -> DataFrame:
    """Within-corpus edit-distance near-dup pairs: (id_a, id_b, dist) with
    id_a < id_b and levenshtein <= ``max_dist`` — :func:`fuzzy_join` of a
    corpus against itself (same completeness theorem; the id ordering
    halves the output, not the work — the gram join itself is symmetric)."""
    pairs = fuzzy_join(df, df, text_col, left_id=id_col, right_id=id_col,
                       max_dist=max_dist, q=q)
    return (pairs.filter(F.col("left_id") < F.col("right_id"))
                 .select(F.col("left_id").alias("id_a"),
                         F.col("right_id").alias("id_b"), "dist"))
