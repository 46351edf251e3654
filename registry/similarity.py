"""Embedding similarity queries: top-k search, clustering, quantization
and embedding dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from registry import _r4, _t, query
from tech_ml_dataset_spark.functions import dedup as dd
from tech_ml_dataset_spark.functions import similarity as sim


@query(oracle="""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id < 150
            ), cb AS (
                SELECT vec_id AS c, v FROM e WHERE vec_id < 8
            ), sp AS (
                SELECT unnest([0, 1, 2, 3]) AS s
            ), d AS (
                SELECT e.vec_id, sp.s, cb.c,
                       (SELECT sum((e.v[sp.s * 16 + i] - cb.v[sp.s * 16 + i])
                                   * (e.v[sp.s * 16 + i] - cb.v[sp.s * 16 + i]))
                        FROM generate_series(1, 16) g(i)) AS d2
                FROM e, cb, sp
            ), a AS (
                SELECT vec_id, s, c,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY d2, c) AS rn
                FROM d
            )
            SELECT vec_id,
                   CAST(max(CASE WHEN s = 0 THEN c END) AS INT) AS c0,
                   CAST(max(CASE WHEN s = 1 THEN c END) AS INT) AS c1,
                   CAST(max(CASE WHEN s = 2 THEN c END) AS INT) AS c2,
                   CAST(max(CASE WHEN s = 3 THEN c END) AS INT) AS c3
            FROM a WHERE rn = 1
            GROUP BY vec_id ORDER BY vec_id
        """)
def pq_encode_embeddings(spark, sf_dir):
    """Product-quantization encode (similarity.py pq_encode; Jégou 2011
    ADC compression): m=4 subspaces × 16 dims, codebooks fixed to the
    first 8 vectors' subvectors so the oracle can rebuild the argmin from
    the embeddings table itself. Assignment is pure Catalyst (centroid
    literals + zip_with/aggregate + struct argmin)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    seed_rows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    books = [[[float(x) for x in r["embedding"][s * 16:(s + 1) * 16]]
              for r in seed_rows] for s in range(4)]
    out = sim.pq_encode(emb, books)
    return out.select("vec_id",
                      *[F.element_at("pq_code", s + 1).alias(f"c{s}")
                        for s in range(4)]) \
              .orderBy("vec_id")


@query(oracle="""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id < 200
            ), c0 AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
                FROM e WHERE vec_id IN (0, 1, 2, 3)
            ), a1 AS (
                SELECT vec_id, c FROM (
                    SELECT e.vec_id, c0.c,
                           row_number() OVER (PARTITION BY e.vec_id ORDER BY
                               (SELECT sum((e.v[s.i] - c0.v[s.i])
                                           * (e.v[s.i] - c0.v[s.i]))
                                FROM generate_series(1, 64) s(i)), c0.c) AS rn
                    FROM e, c0) t
                WHERE rn = 1
            ), m1 AS (
                SELECT a1.c, s.i, avg(e.v[s.i]) AS m
                FROM a1 JOIN e USING (vec_id), generate_series(1, 64) s(i)
                GROUP BY a1.c, s.i
            ), c1 AS (
                SELECT c0.c,
                       CASE WHEN mm.vv IS NULL THEN c0.v ELSE mm.vv END AS v
                FROM c0 LEFT JOIN (
                    SELECT c, list(m ORDER BY i) AS vv FROM m1 GROUP BY c
                ) mm USING (c)
            ), a2 AS (
                SELECT e.vec_id, c1.c,
                       (SELECT sum((e.v[s.i] - c1.v[s.i])
                                   * (e.v[s.i] - c1.v[s.i]))
                        FROM generate_series(1, 64) s(i)) AS d2
                FROM e, c1
            ), fin AS (
                SELECT vec_id, c, d2,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2, c) AS rn
                FROM a2
            )
            SELECT vec_id, c AS cluster, round(d2, 4) AS dist2
            FROM fin WHERE rn = 1
            ORDER BY vec_id
        """)
def kmeans_embeddings(spark, sf_dir):
    """Distributed Lloyd's k-means (functions/similarity.py kmeans_lloyd):
    k=4, one update round, deterministic init from vec_ids 0-3; the DuckDB
    oracle unrolls the round (assign -> per-dim means -> assign). Multi-
    round convergence is pinned in pytest against numpy Lloyd's."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    out, _ = sim.kmeans_lloyd(emb, "embedding", "vec_id", k=4, max_iter=1,
                              init_ids=(0, 1, 2, 3))
    return out.select("vec_id", "cluster",
                      _r4(F.col("dist2")).alias("dist2")).orderBy("vec_id")


@query(oracle="""
            WITH RECURSIVE e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id < 200
            ), c0 AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
                FROM e WHERE vec_id IN (0, 1, 2, 3)
            ), a1 AS (
                SELECT vec_id, c FROM (
                    SELECT e.vec_id, c0.c,
                           row_number() OVER (PARTITION BY e.vec_id ORDER BY
                               (SELECT sum((e.v[s.i] - c0.v[s.i])
                                           * (e.v[s.i] - c0.v[s.i]))
                                FROM generate_series(1, 64) s(i)), c0.c) AS rn
                    FROM e, c0) t
                WHERE rn = 1
            ), p AS (
                SELECT a.vec_id AS src, b.vec_id AS dst
                FROM e a JOIN a1 ca ON ca.vec_id = a.vec_id
                     JOIN e b ON a.vec_id < b.vec_id
                     JOIN a1 cb ON cb.vec_id = b.vec_id AND cb.c = ca.c
                WHERE list_cosine_similarity(a.v, b.v) >= 0.35
            ), edges AS (
                SELECT src, dst FROM p UNION SELECT dst, src FROM p
            ), reach(node, r) AS (
                SELECT vec_id, vec_id FROM e
                UNION
                SELECT edges.dst, reach.r
                FROM reach JOIN edges ON edges.src = reach.node
            ), grp AS (
                SELECT node AS vec_id, min(r) AS grp FROM reach GROUP BY node
            )
            SELECT e.vec_id, a1.c AS cell, grp.grp AS grp,
                   grp.grp = e.vec_id AS semdedup_keep
            FROM e JOIN a1 USING (vec_id) JOIN grp USING (vec_id)
            ORDER BY vec_id
        """)
def semdedup_embeddings(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) with frozen centroids (= embeddings of
    vec_id 0-3, collected driver-side — bounded by k, same trick as the
    kmeans oracle's c0): assign cells, within-cell cosine pairs >= 0.35,
    connected groups, min-id survivor. The oracle replays assignment with
    the identical d2-then-index tiebreak and resolves components with the
    recursive-CTE min-label pattern."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    cents = [[float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id") < 4)
                         .orderBy("vec_id").collect()]
    out = sim.semdedup(emb, centroids=cents, threshold=0.35)
    return out.select("vec_id", "cell", F.col("group").alias("grp"),
                      "semdedup_keep").orderBy("vec_id")


@query(oracle="""
            WITH RECURSIVE e AS (
                SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
            ), p AS (
                SELECT a.vec_id AS src, b.vec_id AS dst
                FROM e a JOIN e b ON a.vec_id < b.vec_id
                WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) >= 0.35
            ), edges AS (
                SELECT src, dst FROM p UNION SELECT dst, src FROM p
            ), reach(node, r) AS (
                SELECT vec_id, vec_id FROM e
                UNION
                SELECT edges.dst, reach.r
                FROM reach JOIN edges ON edges.src = reach.node
            )
            SELECT node AS vec_id, min(r) AS cluster
            FROM reach GROUP BY node
            ORDER BY vec_id
        """)
def embedding_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clusters: connected components (min-label
    propagation, iterative joins + checkpoints) over the exact embedding
    near-dup pair graph; oracle is a recursive CTE."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    pairs = sim.embedding_dedup_pairs(e, threshold=0.35, method="exact")
    return dd.dedup_clusters(pairs, e, id_col="vec_id").orderBy("vec_id")


@query(oracle="""
            WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 4) AS cos
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.35
            ORDER BY id_a, id_b
        """)
def embedding_dedup_pairs_exact(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact all-pairs verify on a bounded
    slice (the oracle baseline for similarity.embedding_dedup_pairs; the
    banded sign-LSH path is pinned by pytest recall instead)."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    out = sim.embedding_dedup_pairs(e, threshold=0.35, method="exact")
    return out.select("id_a", "id_b", _r4(F.col("cos")).alias("cos")) \
              .orderBy("id_a", "id_b")


@query(oracle="""
            WITH n AS (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id >= 300 AND vec_id < 500),
                 h AS (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id < 300)
            SELECT n.vec_id AS new_id, h.vec_id AS hist_id,
                   round(list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
                                                CAST(h.embedding AS DOUBLE[])),
                         4) AS cos
            FROM n, h
            WHERE list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
                                         CAST(h.embedding AS DOUBLE[])) >= 0.35
        """)
def embedding_incremental_pairs(spark, sf_dir):
    """Cross-corpus embedding near-dup (similarity.embedding_pairs_between,
    exact method — the oracle baseline; the sign-LSH cross path is pinned
    by pytest recall): new batch (vec_id >= 300) against the accepted
    corpus (vec_id < 300) — the semantic incremental-dedup filter."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    out = sim.embedding_pairs_between(
        e.filter(F.col("vec_id") >= 300), e.filter(F.col("vec_id") < 300),
        threshold=0.35, method="exact")
    return out.select("new_id", "hist_id", _r4(F.col("cos")).alias("cos"))


@query(oracle="""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   round(CAST(list_cosine_similarity(e.embedding, q.qe) AS DOUBLE), 4) AS cos
            FROM embeddings e, q
            WHERE e.vec_id <> 0
            ORDER BY cos DESC, e.vec_id ASC
            LIMIT 10
        """)
def cosine_topk_embeddings(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 query vector."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = sim.cosine_topk(emb.filter(F.col("vec_id") != 0), "embedding",
                          qvec, k=10)
    return out.select("vec_id", _r4(F.col("cos")).alias("cos")) \
              .orderBy(F.col("cos").desc(), F.col("vec_id").asc())


def _lsh_topk_oracle() -> str:
    """Sign-LSH is deterministic (LCG hyperplanes), so the oracle rebuilds
    the SAME 4 plane vectors as SQL literals and mirrors bucket assignment,
    bucket join, and per-left top-5 ranking in DuckDB."""
    planes = sim.random_hyperplanes(64, 4, 42)
    def lit(p):
        return "[" + ", ".join(f"{x!r}" for x in p) + "]"
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {lit(p)}) > 0 "
        f"THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
        WITH b AS (
            SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
        ), pairs AS (
            SELECT l.vec_id, r.vec_id AS neighbor_id,
                   list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                                          CAST(r.embedding AS DOUBLE[])) AS cos
            FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
            WHERE l.vec_id < 20
        ), ranked AS (
            SELECT vec_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM pairs
        )
        SELECT vec_id, neighbor_id, round(cos, 4) AS cos, rank
        FROM ranked WHERE rank <= 5
        ORDER BY vec_id, rank
    """


@query(oracle=_lsh_topk_oracle())
def lsh_topk_embeddings(spark, sf_dir):
    """Sign-LSH bucketed ANN top-k (ORACLED via frozen seeded
    hyperplanes — approximate by design, but deterministic given the
    plan-literal planes; recall vs brute force is additionally pinned in
    tests/test_functions.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 20)
    return sim.lsh_bucketed_topk(left, emb, "embedding", k=5, n_planes=4) \
              .withColumn("cos", _r4(F.col("cos"))) \
              .orderBy("vec_id", "rank")


@query(oracle="""
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE vec_id = 0),
            cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c
                      FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
            probe AS (SELECT cid FROM cents, q
                      ORDER BY list_cosine_similarity(c, v) DESC, cid ASC
                      LIMIT 2),
            assigned AS (
                SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev,
                       (SELECT c2.cid FROM cents c2
                        ORDER BY list_cosine_similarity(
                                     c2.c, CAST(e.embedding AS DOUBLE[])) DESC,
                                 c2.cid ASC
                        LIMIT 1) AS cell
                FROM embeddings e WHERE e.vec_id <> 0)
            SELECT vec_id,
                   round(list_cosine_similarity(ev, (SELECT v FROM q)), 4)
                       AS cos
            FROM assigned WHERE cell IN (SELECT cid FROM probe)
            ORDER BY list_cosine_similarity(ev, (SELECT v FROM q)) DESC,
                     vec_id ASC
            LIMIT 10
        """)
def ivf_topk_embeddings(spark, sf_dir):
    """IVF approximate top-k (similarity.ivf_topk): numpy-matmul cell
    assignment, probe 2 of 8 cells. ORACLED (promoted from rows-only):
    centroids are the embeddings of vec_id 1..8 in vec_id order —
    data-deterministic, so DuckDB replays the full IVF law (max-cosine
    assignment with argmax's lower-index tiebreak, cosine-ranked probe
    pick, cosine top-k inside probed cells) from the same table. The
    sampled-centroid path (ivf_centroids) stays covered by pytest recall
    tests."""
    emb = _t(spark, sf_dir, "embeddings")
    # one collect serves query vec + all 8 centroids (id-pruned scan)
    head = {r["vec_id"]: list(r["embedding"]) for r in
            emb.filter(F.col("vec_id") <= 8)
               .select("vec_id", "embedding").collect()}
    qvec, cents = head[0], [head[i] for i in range(1, 9)]
    out = sim.ivf_topk(emb.filter(F.col("vec_id") != 0), "embedding",
                       qvec, 10, cents, n_probe=2)
    return out.select("vec_id", _r4(F.col("cos")).alias("cos"))
