"""The pair law of every near-duplicate pair generator, self and cross faces.

All of them run the one candidate-pair path of ``functions/dedup.py``
(key join, one row per pair, verify). Over a tiny corpus in which some
pairs share several band keys, grams or fingerprints, each generator must
report no self pair, ``id_a < id_b`` on a self-join and each pair once.
Where a generator is exact, its output must equal an all-pairs Python
reference built from the same per-row features; where it is approximate
(MinHash and sign-LSH banding), every pair it reports must be in that
reference."""
import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tech_ml_dataset_spark.functions import dedup as dd
from tech_ml_dataset_spark.functions import similarity as sim
from tech_ml_dataset_spark.functions.text import winnow_fingerprints

BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to hide from every hunter")
TEXTS = {
    1: BASE,
    2: BASE.replace("green", "dark"),
    3: "  The QUICK brown fox " + BASE[len("the quick brown fox "):] + " ",
    4: ("completely different text about spark dataframes and shuffles "
        "with no overlap whatsoever"),
    5: ("completely different text about spark dataframes and joins "
        "with some overlap in a few grams"),
    6: "short",
}
NEW_TEXTS = {101: TEXTS[2], 102: TEXTS[3], 103: TEXTS[5],
             104: "nothing like any historical document at all"}
HIST_IDS = (1, 4, 6)

FPS = {1: 0x0123456789ABCDEF, 2: 0x0123456789ABCDEF,
       3: 0x0123456789ABCDEE, 4: 0x0123456789ABCD10,
       5: -0x0123456789ABCDF0, 6: 0x7FFF000000000000}
NEW_FPS = {101: 0x0123456789ABCDEF, 102: 0x0123456789ABCD11,
           103: 0x1111111111111111}

FP_SETS = {1: [1, 2, 3], 2: [1, 2, 3, 4], 3: [3, 9], 4: [7],
           5: [1, 2, 9], 6: []}

_V = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
VECS = {1: _V, 2: [x * 1.001 for x in _V],
        3: [x + (0.3 if i % 2 else -0.3) for i, x in enumerate(_V)],
        4: list(reversed(_V)), 5: [-x for x in _V],
        6: [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]}
NEW_VECS = {101: [x * 0.999 for x in _V], 102: list(reversed(_V)),
            103: [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]}

NAMES = {1: "jonathan", 2: "jonathon", 3: "johnathan", 4: "maria",
         5: "marie", 6: "ab", 7: "abc"}
NEW_NAMES = {101: "jonathen", 102: "mario", 103: "zz"}


def _frame(spark, rows: dict, col: str, schema: str, id_col="doc_id"):
    return spark.createDataFrame(sorted(rows.items()),
                                 f"{id_col} long, {col} {schema}")


def _pairs(a: dict, b: dict | None = None):
    """All (ka, kb) pairs: ka < kb within ``a``, else every cross pair."""
    if b is None:
        return [(x, y) for x in a for y in a if x < y]
    return [(x, y) for x in a for y in b]


def _features(df, id_col, expr):
    return {r[0]: r[1] for r in df.select(id_col, expr).collect()}


def _jaccard_ref(sets_a, sets_b, t):
    out = {}
    for x, y in _pairs(sets_a, sets_b):
        sa, sb = set(sets_a[x]), set((sets_b or sets_a)[y])
        j = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        if j >= t:
            out[(x, y)] = j
    return out


def _hamming_ref(fa, fb, d):
    out = {}
    for x, y in _pairs(fa, fb):
        dist = bin((fa[x] ^ (fb or fa)[y]) & (2 ** 64 - 1)).count("1")
        if dist <= d:
            out[(x, y)] = dist
    return out


def _cos_ref(va, vb, t):
    def norm(v):
        return math.sqrt(sum(x * x for x in v))
    out = {}
    for x, y in _pairs(va, vb):
        u, v = va[x], (vb or va)[y]
        c = sum(p * q for p, q in zip(u, v)) / (norm(u) * norm(v))
        if c >= t:
            out[(x, y)] = c
    return out


def _lev(s, t):
    prev = list(range(len(t) + 1))
    for i, cs in enumerate(s, 1):
        cur = [i]
        for j, ct in enumerate(t, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (cs != ct)))
        prev = cur
    return prev[-1]


def _lev_ref(sa, sb, d):
    return {p: dist for p in _pairs(sa, sb)
            if (dist := _lev(sa[p[0]], (sb or sa)[p[1]])) <= d}


# ---- one case per generator ------------------------------------------------
# Each builder returns (pairs frame, id columns, score column, reference,
# exact); a self face has id columns ("id_a", "id_b").

def _minhash(spark, docs, new, hist):
    sets = _features(docs, "doc_id", dd.shingles(F.col("text"), 5))
    return (dd.minhash_dedup_pairs(docs, threshold=0.5),
            ("id_a", "id_b"), "jaccard", _jaccard_ref(sets, None, 0.5), False)


def _minhash_between(spark, docs, new, hist):
    sn = _features(new, "doc_id", dd.shingles(F.col("text"), 5))
    sh = _features(hist, "doc_id", dd.shingles(F.col("text"), 5))
    return (dd.minhash_pairs_between(new, hist, threshold=0.5),
            ("new_id", "hist_id"), "jaccard", _jaccard_ref(sn, sh, 0.5),
            False)


def _simhash(spark, docs, new, hist):
    fps = _features(dd.simhash_df(docs, "doc_id"), "doc_id", "simhash")
    return (dd.simhash_dedup_pairs(docs, max_distance=3),
            ("id_a", "id_b"), "distance", _hamming_ref(fps, None, 3), True)


def _hamming(spark, docs, new, hist):
    df = _frame(spark, FPS, "fp", "long")
    return (dd.hamming_dedup_pairs(df, "fp", max_distance=3),
            ("id_a", "id_b"), "distance", _hamming_ref(FPS, None, 3), True)


def _hamming_between(spark, docs, new, hist):
    a = _frame(spark, NEW_FPS, "fp", "long")
    b = _frame(spark, FPS, "fp", "long")
    return (dd.hamming_pairs_between(a, b, "fp", max_distance=3),
            ("new_id", "hist_id"), "distance",
            _hamming_ref(NEW_FPS, FPS, 3), True)


def _shared_fp(spark, docs, new, hist):
    df = _frame(spark, FP_SETS, "fps", "array<long>")
    ref = {p: n for p in _pairs(FP_SETS)
           if (n := len(set(FP_SETS[p[0]]) & set(FP_SETS[p[1]]))) >= 2}
    return (dd.shared_fingerprint_pairs(df, "fps", min_shared=2),
            ("id_a", "id_b"), "shared", ref, True)


def _ngram(spark, docs, new, hist):
    sets = _features(docs, "doc_id",
                     dd.shingles(F.col("text"), 2, mode="word"))
    return (dd.ngram_jaccard_pairs(docs, k=2, threshold=0.3),
            ("id_a", "id_b"), "jaccard", _jaccard_ref(sets, None, 0.3),
            True)


def _winnow(spark, docs, new, hist):
    fps = _features(docs, "doc_id", winnow_fingerprints(F.col("text")))
    ref = {}
    for x, y in _pairs(fps):
        ca, cb = Counter(fps[x]), Counter(fps[y])
        shared = sum(n * cb[h] for h, n in ca.items())
        if shared >= 2:
            ref[(x, y)] = shared
    return (dd.winnow_dedup_pairs(docs, min_shared=2, max_df=None),
            ("id_a", "id_b"), "shared_fps", ref, True)


def _similarity_join(spark, docs, new, hist):
    sn = _features(new, "doc_id", dd.shingles(F.col("text"), 2, mode="word"))
    sh = _features(hist, "doc_id",
                   dd.shingles(F.col("text"), 2, mode="word"))
    return (dd.similarity_join(new, hist, k=2, threshold=0.3),
            ("left_id", "right_id"), "jaccard", _jaccard_ref(sn, sh, 0.3),
            True)


def _embedding(method):
    def build(spark, docs, new, hist):
        df = _frame(spark, VECS, "embedding", "array<double>", "vec_id")
        return (sim.embedding_dedup_pairs(df, threshold=0.9, method=method),
                ("id_a", "id_b"), "cos", _cos_ref(VECS, None, 0.9),
                method == "exact")
    return build


def _embedding_between(method):
    def build(spark, docs, new, hist):
        a = _frame(spark, NEW_VECS, "embedding", "array<double>", "vec_id")
        b = _frame(spark, VECS, "embedding", "array<double>", "vec_id")
        return (sim.embedding_pairs_between(a, b, threshold=0.9,
                                            method=method),
                ("new_id", "hist_id"), "cos", _cos_ref(NEW_VECS, VECS, 0.9),
                method == "exact")
    return build


def _fuzzy(spark, docs, new, hist):
    df = _frame(spark, NAMES, "text", "string")
    return (dd.fuzzy_dedup_pairs(df, max_dist=2), ("id_a", "id_b"), "dist",
            _lev_ref(NAMES, None, 2), True)


def _fuzzy_join(spark, docs, new, hist):
    a = _frame(spark, NEW_NAMES, "text", "string")
    b = _frame(spark, NAMES, "text", "string")
    return (dd.fuzzy_join(a, b, max_dist=2), ("left_id", "right_id"), "dist",
            _lev_ref(NEW_NAMES, NAMES, 2), True)


CASES = {
    "minhash": _minhash, "simhash": _simhash, "hamming": _hamming,
    "shared_fingerprint": _shared_fp, "ngram": _ngram, "winnow": _winnow,
    "embedding_lsh": _embedding("lsh"),
    "embedding_exact": _embedding("exact"), "fuzzy": _fuzzy,
    "minhash_between": _minhash_between,
    "hamming_between": _hamming_between,
    "similarity_join": _similarity_join,
    "embedding_between_lsh": _embedding_between("lsh"),
    "embedding_between_exact": _embedding_between("exact"),
    "fuzzy_join": _fuzzy_join,
}


@pytest.fixture(scope="module")
def corpora(spark):
    docs = _frame(spark, TEXTS, "text", "string")
    new = _frame(spark, NEW_TEXTS, "text", "string")
    hist = _frame(spark, {i: TEXTS[i] for i in HIST_IDS}, "text", "string")
    return docs, new, hist


@pytest.mark.parametrize("name", list(CASES))
def test_pair_law(spark, corpora, name):
    pairs, (ca, cb), score, ref, exact = CASES[name](spark, *corpora)
    rows = [(r[ca], r[cb], r[score]) for r in pairs.collect()]
    keys = [(a, b) for a, b, _ in rows]
    assert len(keys) == len(set(keys)), f"{name}: a pair came twice"
    if ca == "id_a":
        assert all(a < b for a, b in keys), f"{name}: id_a >= id_b"
    got = {(a, b): s for a, b, s in rows}
    if exact:
        assert got.keys() == ref.keys(), name
        for p, s in got.items():
            assert s == pytest.approx(ref[p], abs=1e-4), (name, p)
    else:
        assert got.keys() <= ref.keys(), name
    # the corpus is built so that every generator finds something
    assert got, f"{name}: no pairs on a corpus with duplicates"


# a partial count keyed on an inverted index's key, in a formatted plan
_ADMIT_AGG = re.compile(r"Keys \[1\]: \[(__g__|__h__|__fp__)#\d+L?\]\n"
                        r"Functions \[1\]: \[partial_count\(1\)\]")


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(mode)


def _admit_evaluations(spark, build) -> int:
    """How often ``build()`` evaluates the ``max_df`` count: once per SQL
    execution it ran at build time whose plan holds the partial count,
    plus each such count in the plan of the frame it returns."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def recent():
        bus.waitUntilEmpty()
        n = store.executionsCount()
        seq = store.executionsList(max(0, n - 50), 50)
        return [seq.apply(i) for i in range(seq.size())]

    last = max((e.executionId() for e in recent()), default=-1)
    df = build()
    ran = sum(1 for e in recent() if e.executionId() > last
              and _ADMIT_AGG.search(e.physicalPlanDescription()))
    return ran + len(_ADMIT_AGG.findall(_formatted(df)))


def test_max_df_admission_evaluates_once(spark, corpora):
    """The ``max_df`` cap (``dd._admit``) counts each key's document
    frequency exactly ONCE per call in all three inverted-index
    generators: the admitted key set is materialized by one build-time
    execution, and the pair plan, which reads the capped index from both
    join sides, holds no count of its own (without that materialization
    each side evaluated the count: 2 per call)."""
    docs = corpora[0]
    fps = _frame(spark, FP_SETS, "fps", "array<long>")
    builders = {
        "ngram": lambda: dd.ngram_jaccard_pairs(docs, k=2, threshold=0.3,
                                                max_df=3),
        "winnow": lambda: dd.winnow_dedup_pairs(docs, min_shared=2,
                                                max_df=3),
        "shared_fingerprint": lambda: dd.shared_fingerprint_pairs(
            fps, "fps", min_shared=2, max_df=3),
    }
    got = {name: _admit_evaluations(spark, b) for name, b in builders.items()}
    assert got == {name: 1 for name in builders}
