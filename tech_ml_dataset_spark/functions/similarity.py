"""Similarity search over embedding columns (beyond-reference mandate).

The reference has no vector-search surface; this implements the LLM-pipeline
operators the driver's north star requires: brute-force cosine top-k as the
exact baseline and an LSH-bucketed variant as the 100 TB scale path.

Design: embeddings are ``array<float>`` columns. All arithmetic stays
JVM-side via ``F.zip_with`` + ``F.aggregate`` (codegen'd higher-order
functions) — no Python in the scoring loop.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..dtutil import _let
from .dedup import (_CROSS, _SELF, _attach, _drop_named, _key_pairs,
                    dedup_clusters)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, computed in double.

    The cast-to-double arrays are _let-bound: inlined, each was
    re-materialized by BOTH the dot product and its norm (4 O(dim) cast
    passes per pair instead of 2 — HOF expressions have no CSE)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _let(ad, lambda x: _let(bd, lambda y:
                _dot(x, y) / (_norm(x) * _norm(y))))


def row_norm(vec: Column) -> Column:
    """Per-ROW L2 norm of a vector column, in double — bit-identical to
    the norm :func:`cosine` evaluates per PAIR (same cast, same left-fold
    aggregate, same sqrt). Attach it to each side BEFORE a pair join and
    score with :func:`cosine_with_norms`: every candidate pair then pays
    one dot product instead of dot + two O(dim) norm re-aggregations
    (norms are a per-row property; computing them per pair re-did the
    same work candidate-fan-out times)."""
    return _norm(F.transform(vec, lambda x: x.cast("double")))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Pair cosine from raw vectors plus per-row norms (see
    :func:`row_norm`). The expression tree is dot(a,b) / (na * nb) — the
    exact operand order :func:`cosine` uses, so results are bit-identical
    when ``na``/``nb`` are the attached :func:`row_norm` columns."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _let(ad, lambda x: _let(bd, lambda y:
                _dot(x, y))) / (na * nb)


def _py_norm(vals) -> float:
    """Driver-side replica of :func:`_norm`'s left-fold aggregate over a
    LITERAL vector (0.0 seed, acc + x*x in element order, sqrt) — IEEE
    double ops in both engines, so the result is bit-identical to
    evaluating _norm over the same literal per row. Lets constant-query
    scorers (cosine_topk / ivf_topk) fold the query norm into a literal
    instead of re-aggregating an O(dim) constant for every row."""
    import math
    acc = 0.0
    for x in vals:
        v = float(x)
        acc += v * v
    return math.sqrt(acc)


def cosine_topk(df: DataFrame, vec_col: str, query: Sequence[float], k: int = 10,
                id_col: str = "vec_id", score_col: str = "cos") -> DataFrame:
    """Exact brute-force top-k by cosine to a constant query vector.

    The query vector is a literal array (broadcast to every task inside the
    plan — no driver loop, no crossJoin). Spark plans the top-k as
    TakeOrderedAndProject: per-partition heaps, merge of k — the right shape
    for 100 TB (never a global sort).
    """
    q = F.array(*[F.lit(float(x)) for x in query])
    # the query norm is a CONSTANT: fold it driver-side (_py_norm is
    # bit-identical to _norm over the literal) instead of re-aggregating
    # the O(dim) query array once per scanned row
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    score = _let(vd, lambda x: _dot(x, q) / (_norm(x) * F.lit(_py_norm(query))))
    scored = df.withColumn(score_col, score)
    return (scored.select(id_col, score_col)
                  .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
                  .limit(k))


def cosine_join_topk(left: DataFrame, right: DataFrame, vec_col: str, k: int,
                     left_id: str = "vec_id", right_id: str = "vec_id") -> DataFrame:
    """All-pairs exact top-k neighbors: for each left row, its k nearest
    right rows by cosine. Brute force O(|L|·|R|) — the correct baseline; use
    ``lsh_bucketed_topk`` (random-hyperplane buckets) when |L|·|R| explodes.

    The right side should be the smaller table; it is broadcast so the
    quadratic work is partitioned by left rows with no shuffle.
    """
    from pyspark.sql import Window as W

    r = right.select(F.col(right_id).alias("__rid__"),
                     F.col(vec_col).alias("__rvec__"),
                     row_norm(F.col(vec_col)).alias("__rn__"))
    pairs = (left.withColumn("__ln__", row_norm(F.col(vec_col)))
                 .join(F.broadcast(r), F.col(left_id) != F.col("__rid__")))
    scored = pairs.withColumn("__cos__", cosine_with_norms(
        F.col(vec_col), F.col("__rvec__"), F.col("__ln__"), F.col("__rn__")))
    w = W.partitionBy(left_id).orderBy(F.col("__cos__").desc(), F.col("__rid__").asc())
    return (scored.withColumn("__rank__", F.row_number().over(w))
                  .filter(F.col("__rank__") <= k)
                  .select(left_id, F.col("__rid__").alias("neighbor_id"),
                          F.col("__cos__").alias("cos"), F.col("__rank__").alias("rank")))



def _infer_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector dimensionality from the first non-NULL vector; None when the
    frame is empty or all-NULL (callers must degrade to an empty result
    instead of crashing — a continuous-ingest micro-batch can legally
    dedup to zero rows before reaching the banding stage)."""
    row = df.select(vec_col).dropna().first()
    return None if row is None else len(row[0])


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH (SimHash for
    dense vectors). Pure-python LCG so results are reproducible without
    numpy RNG state (and identical across driver/executors)."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append((state / 0x40000000) - 1.0)  # uniform [-1, 1)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: Sequence[Sequence[float]]) -> Column:
    """Sign-LSH bucket id: bit i = sign(vec · plane_i). All JVM-side."""
    vd = F.transform(vec, lambda x: x.cast("double"))
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = (_dot(vd, p) > 0).cast("long")
        bucket = bucket + (bit * F.lit(2 ** i).cast("long"))
    return bucket


def ivf_assign(df: DataFrame, vec_col: str,
               centroids: Sequence[Sequence[float]],
               out_col: str = "ivf_cell") -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine) — the IVF
    partitioning step. Scoring is a vectorized numpy matmul per Arrow batch
    (the BLAS kernel a real IVF index uses); only (row, cell-id) crosses
    back to the JVM. At 100 TB this runs embarrassingly parallel per
    partition with the small centroid matrix broadcast in the closure."""
    from pyspark.sql.functions import pandas_udf

    cm = np.asarray(centroids, dtype=np.float64)
    cm = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mat @ cm.T, axis=1).astype("int32"))

    return df.withColumn(out_col, assign(F.col(vec_col)))


def ivf_centroids(df: DataFrame, vec_col: str, n_cells: int,
                  seed: int = 42) -> list[list[float]]:
    """Pick IVF centroids as a deterministic uniform sample of the data
    (IVF-flat with sampled centroids — the standard cheap init; swap in
    pyspark.ml KMeans refinement when centroid quality matters more than
    build time). ONE job, no count() pre-scan: rows get a deterministic
    per-row hash-rank and TakeOrderedAndProject keeps the n_cells
    smallest — per-partition heaps, uniform over the data, scan stops at
    nothing but reads each row once (the old fraction-sizing ran a full
    count first)."""
    ranked = df.select(F.col(vec_col)) \
               .withColumn("__rk__", F.xxhash64(F.col(vec_col), F.lit(seed)))
    rows = ranked.orderBy("__rk__").limit(n_cells).collect()
    return [list(r[0]) for r in rows]


def _argmin_centroids(vec, centroids) -> Column:
    """Shared nearest-centroid expression (kmeans assign / PQ encode):
    squared Euclidean to each centroid literal via zip_with + aggregate,
    ``array_min`` over (dist, index) structs — ties break toward the lower
    index by struct ordering. Returns the winning struct; take ``["c"]``
    for the index, ``["d"]`` for the squared distance. Both consumers MUST
    keep this single definition so their oracles stay tie-break-identical."""
    def dists_of(v):
        # ``v`` is _let-bound: an expression-valued ``vec`` (PQ subvector
        # slices, semdedup's cast transform) was re-evaluated once per
        # CENTROID when inlined; column-attribute callers are
        # unchanged (binding an attribute is free)
        dists = []
        for j, c in enumerate(centroids):
            arr = F.array(*[F.lit(float(x)) for x in c])
            d2 = F.aggregate(
                F.zip_with(v, arr, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x)
            dists.append(F.struct(d2.alias("d"), F.lit(j).alias("c")))
        return F.array_min(F.array(*dists))

    return _let(vec, dists_of)


def kmeans_lloyd(df: DataFrame, vec_col: str = "embedding",
                 id_col: str = "vec_id", *, k: int = 4, max_iter: int = 5,
                 init_ids: Sequence | None = None
                 ) -> "tuple[DataFrame, list[list[float]]]":
    """Distributed Lloyd's k-means over an embedding column (Euclidean) —
    the topic-balance / corpus-clustering primitive (and an exact-k
    refinement over :func:`ivf_centroids` sampling).

    Fully deterministic so it can be oracle-checked: initial centroids are
    the vectors of ``init_ids`` (default: the k smallest ids), clusters are
    numbered by init order, and the argmin tie-breaks toward the lower
    cluster id via struct ordering.

    Scale shape per iteration (the standard Spark Lloyd's):

    * ASSIGN — centroids ride into the plan as literals, so the k squared
      distances are pure Catalyst expressions (``zip_with`` +
      ``aggregate``) and ``array_min`` over (dist, cluster) structs picks
      the winner: no UDF, no shuffle, embarrassingly parallel.
    * UPDATE — ``posexplode`` the vector, groupBy (cluster, dim) mean:
      one map-side-combined shuffle of (k·d) keys; only the k×d centroid
      matrix is collected to the driver. Empty clusters keep their
      previous centroid.

    ``max_iter`` bounded driver rounds (iterative by nature — same
    contract as dedup_clusters' label propagation). Returns
    ``(assignments, centroids)`` where assignments has ``id_col,
    cluster, dist2`` (squared Euclidean to the FINAL centroid)."""
    base = df.select(F.col(id_col), F.col(vec_col).alias("__v__"))
    if init_ids is None:
        rows = base.orderBy(id_col).limit(k).collect()
    else:
        want = list(init_ids)
        got = {r[0]: r for r in
               base.filter(F.col(id_col).isin(want)).collect()}
        missing = [i for i in want if i not in got]
        if missing:
            raise ValueError(
                f"init_ids not present in the data: {missing}")
        rows = [got[i] for i in want]
    cents = [[float(x) for x in r["__v__"]] for r in rows]
    if len(cents) < k:
        raise ValueError(f"init needs {k} vectors, found {len(cents)}")

    def _assign(cs):
        best = _argmin_centroids(F.col("__v__"), cs)
        return base.withColumn("cluster", best["c"]) \
                   .withColumn("dist2", best["d"])

    for _ in range(max_iter):
        assigned = _assign(cents)
        mean_rows = (assigned
                     .select("cluster", F.posexplode("__v__")
                              .alias("__i__", "__x__"))
                     .groupBy("cluster", "__i__")
                     .agg(F.avg("__x__").alias("__m__"))
                     .collect())
        new = [list(c) for c in cents]  # empty cluster -> keep previous
        dims: dict[int, dict[int, float]] = {}
        for r in mean_rows:
            dims.setdefault(r["cluster"], {})[r["__i__"]] = r["__m__"]
        for j, dvals in dims.items():
            new[j] = [dvals[i] for i in range(len(dvals))]
        if new == cents:
            break
        cents = new

    out = _assign(cents).select(id_col, "cluster", "dist2")
    return out, cents


def pq_train(df: DataFrame, vec_col: str = "embedding", *,
             dim: int, m: int = 4, k: int = 16, max_iter: int = 3,
             id_col: str = "vec_id") -> "list[list[list[float]]]":
    """Train product-quantization codebooks (Jégou et al. 2011): split the
    vector into ``m`` subvectors and run :func:`kmeans_lloyd` per
    subspace (deterministic init -> reproducible codebooks). Returns
    ``codebooks[s][c] = centroid`` — an m×k×(dim/m) nest small enough to
    ride into every later plan as literals. Training cost: m bounded
    k-means runs; at 100 TB train on a uniform sample."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    books = []
    for s in range(m):
        sdf = df.select(F.col(id_col),
                        F.slice(F.col(vec_col), s * sub + 1, sub)
                         .alias("__sv__"))
        _, cents = kmeans_lloyd(sdf, "__sv__", id_col, k=k,
                                max_iter=max_iter)
        books.append(cents)
    return books


def pq_encode(df: DataFrame, codebooks, vec_col: str = "embedding",
              out_col: str = "pq_code") -> DataFrame:
    """Encode vectors to PQ codes: per subspace, argmin squared distance
    over the codebook centroids — centroid literals in-plan, zip_with +
    aggregate + array_min struct tie-break (the :func:`kmeans_lloyd`
    assignment expression, once per subspace). Output is an
    ``array<int>`` of length m: a 64-dim float vector compresses to m
    bytes-ish of code — the representation that makes billion-vector ANN
    fit in memory. No UDF, no shuffle."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    codes = []
    for s in range(m):
        sv = F.slice(F.col(vec_col), s * sub + 1, sub)
        codes.append(_argmin_centroids(sv, codebooks[s])["c"])
    return df.withColumn(out_col, F.array(*codes))


def pq_topk(df: DataFrame, codebooks, query: Sequence[float], k: int = 10,
            *, vec_col: str = "embedding", id_col: str = "vec_id",
            code_col: str | None = None) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): precompute the
    query's distance to every centroid of every subspace (an m×K table —
    driver-side, tiny), then each row's approximate distance is m array
    lookups + adds over its code. The scan touches only the code column —
    the point of PQ: the full vectors never need to be read. Encodes
    on the fly when ``code_col`` is None (one in-plan expression)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = np.asarray(query, dtype=np.float64)
    tables = []
    for s in range(m):
        qs = q[s * sub:(s + 1) * sub]
        tables.append([float(((qs - np.asarray(c)) ** 2).sum())
                       for c in codebooks[s]])
    src = df if code_col else pq_encode(df, codebooks, vec_col,
                                        out_col="__pq__")
    code = F.col(code_col or "__pq__")
    dist = None
    for s in range(m):
        t = F.array(*[F.lit(v) for v in tables[s]])
        term = F.element_at(t, F.element_at(code, s + 1) + 1)
        dist = term if dist is None else dist + term
    out = (src.withColumn("pq_dist2", dist)
              .orderBy(F.col("pq_dist2").asc(), F.col(id_col).asc())
              .limit(k))
    return out.select(id_col, "pq_dist2")


def ivf_topk(df: DataFrame, vec_col: str, query: Sequence[float], k: int,
             centroids: Sequence[Sequence[float]], n_probe: int = 2,
             id_col: str = "vec_id", score_col: str = "cos") -> DataFrame:
    """IVF approximate top-k: score only vectors in the ``n_probe`` cells
    whose centroids are nearest the query. With the table pre-partitioned
    (or bucketed) by ``ivf_cell``, the cell filter is partition pruning —
    the scan touches ~n_probe/n_cells of the data, which is the entire
    point of IVF at 100 TB."""
    cm = np.asarray(centroids, dtype=np.float64)
    cm = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
    q = np.asarray(query, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probe = np.argsort(-(cm @ q))[:n_probe].tolist()

    assigned = df if "ivf_cell" in df.columns else ivf_assign(df, vec_col, centroids)
    qlit = F.array(*[F.lit(float(x)) for x in query])
    # constant query norm folded driver-side (see cosine_topk)
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    score = _let(vd, lambda x:
                 _dot(x, qlit) / (_norm(x) * F.lit(_py_norm(query))))
    return (assigned.filter(F.col("ivf_cell").isin([int(p) for p in probe]))
                    .withColumn(score_col, score)
                    .select(id_col, score_col)
                    .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
                    .limit(k))


def lsh_bucketed_topk(left: DataFrame, right: DataFrame, vec_col: str, k: int,
                      n_planes: int = 8, dim: int | None = None,
                      left_id: str = "vec_id", right_id: str = "vec_id",
                      seed: int = 42) -> DataFrame:
    """Approximate top-k: candidates limited to equal sign-LSH buckets, so
    the join is an equi-join on bucket (shuffle by bucket — linear, not
    quadratic). Recall grows by lowering n_planes or probing neighbor
    buckets; this is the 100 TB-scale path."""
    from pyspark.sql import Window as W

    if dim is None:
        dim = _infer_dim(left, vec_col)
        if dim is None:  # empty left: top-k of nothing is nothing
            return (left.select(F.col(left_id), F.col(vec_col))
                        .crossJoin(right.limit(0).select(
                            F.col(right_id).alias("neighbor_id")))
                        .withColumn("cos", F.lit(None).cast("double"))
                        .withColumn("rank", F.lit(None).cast("int"))
                        .select(left_id, "neighbor_id", "cos", "rank"))
    planes = random_hyperplanes(dim, n_planes, seed)
    lb = left.withColumn("__bucket__", lsh_bucket(F.col(vec_col), planes)) \
             .withColumn("__ln__", row_norm(F.col(vec_col)))
    rb = right.select(F.col(right_id).alias("__rid__"), F.col(vec_col).alias("__rvec__")) \
              .withColumn("__bucket__", lsh_bucket(F.col("__rvec__"), planes)) \
              .withColumn("__rn__", row_norm(F.col("__rvec__")))
    pairs = lb.join(rb, "__bucket__").filter(F.col(left_id) != F.col("__rid__"))
    scored = pairs.withColumn("__cos__", cosine_with_norms(
        F.col(vec_col), F.col("__rvec__"), F.col("__ln__"), F.col("__rn__")))
    w = W.partitionBy(left_id).orderBy(F.col("__cos__").desc(), F.col("__rid__").asc())
    return (scored.withColumn("__rank__", F.row_number().over(w))
                  .filter(F.col("__rank__") <= k)
                  .select(left_id, F.col("__rid__").alias("neighbor_id"),
                          F.col("__cos__").alias("cos"), F.col("__rank__").alias("rank")))


def semdedup(df: DataFrame, vec_col: str = "embedding",
             id_col: str = "vec_id", *, centroids=None, k: int = 16,
             threshold: float = 0.95, keep: str = "min_id",
             max_cluster_size: int | None = None,
             kmeans_iter: int = 5) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding column — cluster the corpus, compare
    pairs ONLY within a cluster, and drop all but one member of every
    above-threshold connected group. The paper's insight: semantic dups
    land in the same k-means cell, so the O(n²) cosine comparison shrinks
    to O(sum of cell²) with cell sizes bounded by choosing k ~ n/target.

    ``centroids``: pass a fitted/frozen list to make the run replayable
    (oracle path); None fits :func:`kmeans_lloyd` first (deterministic
    init, so still reproducible on static input). ``keep``:

    - ``"min_id"`` — survivor is the smallest id of each duplicate group
      (matches the exact-dedup family's survivor law);
    - ``"far_from_centroid"`` — the paper's rule: keep the group member
      with the LOWEST cosine to its cell centroid (preserves diversity),
      id tiebreak.

    Scale shape: assignment is the shared ``_argmin_centroids`` codegen
    expression (no UDF, no shuffle). The pairwise stage is an equi-join on
    the cell key — quadratic only WITHIN a cell, which is the SemDeDup
    contract (k grows with the corpus so cells stay bounded).
    ``max_cluster_size`` is the skew guard for when they don't: cells
    larger than the cap are sub-bucketed by id hash (one k-row broadcast
    of cell sizes, then pmod(xxhash64(id), ceil(size/cap))), bounding the
    worst-case fan-out at the documented cost of missing cross-bucket
    pairs inside mega-cells. Connected groups resolve via
    :func:`~tech_ml_dataset_spark.functions.dedup.dedup_clusters` (sparse
    driver union-find fast path, else min-label propagation).

    Returns the input plus ``cell`` (centroid index), ``group`` (duplicate
    component label = min member id) and ``semdedup_keep`` (True for the
    survivor; filter on it to dedup).
    """
    from ..dtutil import ensure_parallelism
    df = ensure_parallelism(df)
    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(f"unknown keep rule {keep!r}")
    if centroids is None:
        _, centroids = kmeans_lloyd(df, vec_col, id_col, k=k,
                                    max_iter=kmeans_iter)
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    assigned = df.withColumn("cell", _argmin_centroids(vd, centroids)["c"])
    if keep == "far_from_centroid":
        # bind the cast vector AND its norm once across the k centroid
        # cosines (inlined, the norm re-aggregated per centroid; the
        # centroid norms are constants folded driver-side)
        coss = _let(vd, lambda x: _let(_norm(x), lambda nx: F.array(*[
            _dot(x, F.array(*[F.lit(float(v)) for v in c]))
            / (nx * F.lit(_py_norm(c)))
            for c in centroids])))
        assigned = assigned.withColumn(
            "__coscent__", F.element_at(coss, F.col("cell") + 1))
    key_cols = ["cell"]
    if max_cluster_size is not None:
        sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("__n__"))
        # one row per centroid — always broadcastable
        assigned = assigned.join(F.broadcast(sizes), "cell")
        nsub = F.ceil(F.col("__n__") / F.lit(max_cluster_size)).cast("long")
        assigned = assigned.withColumn(
            "__sub__", F.pmod(F.xxhash64(F.col(id_col)), nsub)).drop("__n__")
        key_cols = ["cell", "__sub__"]
    # per-row norms into the within-cell pair join: the quadratic
    # within-cell verify pays one dot per pair instead of dot + 2 norms
    slim = assigned.select(id_col, *key_cols, vec_col,
                           row_norm(F.col(vec_col)).alias("__nv__"))
    pairs = (_key_pairs(slim, key_cols, id_col, carry=_vec_carry(vec_col))
              .filter(_pair_cosine() >= threshold)
              .select(*_SELF))
    groups = dedup_clusters(pairs, assigned, id_col) \
        .withColumnRenamed("cluster", "group")
    out = assigned.join(groups, id_col)
    if keep == "min_id":
        out = out.withColumn("semdedup_keep",
                             F.col("group") == F.col(id_col))
    else:
        surv = out.groupBy("group").agg(
            F.min(F.struct(F.col("__coscent__").alias("s"),
                           F.col(id_col).alias("i"))).alias("__surv__"))
        out = (out.join(surv, "group")
                  .withColumn("semdedup_keep",
                              F.col(id_col) == F.col("__surv__.i"))
                  .drop("__surv__", "__coscent__"))
    return out.drop("__sub__") if max_cluster_size is not None else out


def embedding_dedup_pairs(df: DataFrame, vec_col: str = "embedding",
                          id_col: str = "vec_id", *, threshold: float = 0.9,
                          method: str = "lsh", bands: int = 8,
                          band_bits: int = 4, dim: int | None = None,
                          seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family, beyond-reference
    mandate): (id_a, id_b, cos) for all pairs with cosine >= threshold.

    method="lsh" (the 100 TB path): banded sign-LSH candidates — bands×
    band_bits hyperplane signs; two vectors are candidates when ANY band of
    sign bits agrees (recall for near-identical vectors ~1-(1-(1-θ/π)^r)^b),
    then exact-cosine verified. The banded self-join mirrors
    dedup.minhash_candidates' slim shape: only (id, band, key) crosses the
    candidate exchange; vectors join back per confirmed pair.

    method="exact": all-pairs O(n²) verify — the oracle baseline; use only
    on bounded slices.
    """
    return _cosine_pairs(df, None, vec_col, id_col, threshold=threshold,
                         method=method, bands=bands, band_bits=band_bits,
                         dim=dim, seed=seed)


def _vec_carry(vec_col: str) -> dict:
    """The vector and its per-row norm, as carried by each pair side."""
    return {vec_col: ("__va__", "__vb__"), "__nv__": ("__na__", "__nb__")}


def _pair_cosine() -> Column:
    return cosine_with_norms(F.col("__va__"), F.col("__vb__"),
                             F.col("__na__"), F.col("__nb__"))


def _cosine_pairs(a: DataFrame, b: DataFrame | None, vec_col: str,
                  id_col: str, *, threshold: float, method: str, bands: int,
                  band_bits: int, dim: int | None, seed: int) -> DataFrame:
    """Both faces of the embedding-cosine pairs: ``b=None`` pairs ``a``
    with itself (``id_a < id_b``), otherwise every (``a`` row, ``b`` row)
    as (new_id, hist_id). Per-ROW norms ride along each side, so the
    verify pays one dot per candidate instead of dot + two norm
    re-aggregations (bit-identical scores — see cosine_with_norms).
    "exact" pairs every row; "lsh" pairs rows sharing a sign-LSH band key
    (both sides banded with the SAME seeded planes) and joins the vectors
    back per distinct candidate."""
    names = _SELF if b is None else _CROSS
    carry = _vec_carry(vec_col)

    def slim(t):
        return t.select(F.col(id_col), F.col(vec_col),
                        row_norm(F.col(vec_col)).alias("__nv__"))
    sa, sb = slim(a), None if b is None else slim(b)
    if method != "exact" and dim is None:
        dim = _infer_dim(a, vec_col)
        if dim is None:  # empty/all-NULL ``a``: no pairs by definition
            sa, method = sa.limit(0), "exact"
    if method == "exact":
        pairs = _key_pairs(sa, [], id_col, sb, names=names, carry=carry)
    else:
        planes = random_hyperplanes(dim, bands * band_bits, seed)

        def banded(t):
            return None if t is None else _sign_banded(
                t, id_col, vec_col, planes, bands, band_bits)
        ids = (_key_pairs(banded(sa), ["__band__", "__key__"], id_col,
                          banded(sb), names=names)
               .select(*names).distinct())
        pairs = _attach(ids, sa, sa if sb is None else sb, id_col,
                        names=names, carry=carry)
    return (pairs.withColumn("cos", _pair_cosine())
                 .filter(F.col("cos") >= threshold)
                 .select(*names, "cos"))


def _sign_banded(slim: DataFrame, id_col: str, vec_col: str, planes,
                 bands: int, band_bits: int) -> DataFrame:
    """(id, band, key) table for sign-LSH banding: key b packs band_bits
    hyperplane signs into a long. Both sides of a cross-corpus join MUST
    band with the SAME planes for the recall math to hold."""
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    keys = []
    for bi in range(bands):
        key = F.lit(0).cast("long")
        for j in range(band_bits):
            p = planes[bi * band_bits + j]
            bit = (_dot(vd, F.array(*[F.lit(float(x)) for x in p])) > 0)
            key = key + bit.cast("long") * F.lit(2 ** j).cast("long")
        keys.append(key)
    return slim.select(
        id_col, F.posexplode(F.array(*keys)).alias("__band__", "__key__"))


def embedding_pairs_between(new_batch: DataFrame, historical: DataFrame,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id", *,
                            threshold: float = 0.9, method: str = "lsh",
                            bands: int = 8, band_bits: int = 4,
                            dim: int | None = None,
                            seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ACROSS two corpora —
    (new_id, hist_id, cos) for every cross pair with cosine >= threshold.
    The embedding face of
    :func:`~tech_ml_dataset_spark.functions.dedup.minhash_pairs_between`:
    continuous-crawl ingest checks each batch against the accepted corpus
    in embedding space (SemDeDup-style semantic filtering, applied
    incrementally). Within-batch duplicates are NOT reported — run
    :func:`embedding_dedup_pairs` on the batch separately.

    method="lsh" (the 100 TB path): BOTH corpora banded with the SAME
    seeded hyperplanes (bands × band_bits sign bits); the band equi-join
    carries only (id, band, key) longs from each side; vectors join back
    once per side for the exact-cosine verify on the candidate set.
    method="exact": all cross pairs (|new|·|hist| — the oracle baseline;
    bounded slices only)."""
    return _cosine_pairs(new_batch, historical, vec_col, id_col,
                         threshold=threshold, method=method, bands=bands,
                         band_bits=band_bits, dim=dim, seed=seed)


def embedding_dedup_incremental(new_batch: DataFrame,
                                historical: DataFrame,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id", **kw) -> DataFrame:
    """Rows of ``new_batch`` with NO embedding near-duplicate in
    ``historical`` (cosine >= threshold) — the semantic incremental-dedup
    filter; keyword args as :func:`embedding_pairs_between`. One anti
    join on the slim matched-id set."""
    pairs = embedding_pairs_between(new_batch, historical, vec_col,
                                    id_col, **kw)
    return _drop_named(new_batch, pairs, "new_id", id_col)
