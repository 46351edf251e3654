"""Deduplication queries: exact, n-gram, MinHash, SimHash and winnowing."""

from __future__ import annotations

from pyspark.sql import functions as F

from registry import _ckpt_sort, _t, query
from tech_ml_dataset_spark import dtutil as dtu
from tech_ml_dataset_spark.functions import dedup as dd
from tech_ml_dataset_spark.functions import text as txt


@query(oracle="""
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS t
                FROM documents
            ), g AS (
                SELECT doc_id,
                       list_distinct(list_filter(
                           [array_to_string(t[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(t) - 2, 1) + 1)],
                           x -> length(x) > 0)) AS gs
                FROM toks
            ), ev AS (
                SELECT DISTINCT unnest(gs) AS gm FROM g WHERE doc_id % 50 = 0
            ), corp AS (
                SELECT doc_id, unnest(gs) AS gm FROM g WHERE doc_id % 50 <> 0
            ), hits AS (
                SELECT c.doc_id, count(*) AS contam_hits
                FROM corp c JOIN ev USING (gm) GROUP BY c.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(h.contam_hits, 0) AS BIGINT) AS contam_hits,
                   coalesce(h.contam_hits, 0) >= 1 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
            LEFT JOIN hits h USING (doc_id)
            ORDER BY doc_id
        """)
def decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination (functions/dedup.py decontaminate; the
    published GPT-3 appendix-C / PaLM n-gram-overlap procedure — 13-grams
    in production, k=3 here so the synthetic corpus yields non-vacuous
    hits): every corpus doc sharing a distinct 3-gram with the held-out
    eval slice is flagged, with the shared-gram count for auditing."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    out = dd.decontaminate(corpus, bench, k=3, min_hits=1)
    return (out.select("doc_id", F.col("contam_hits").cast("long").alias("contam_hits"),
                       "contaminated")
               .orderBy("doc_id"))


@query(oracle="""
            -- full ExactSubstr law replay: tokenize, hash every
            -- 20-token window, elect the (id, pos)-first canonical
            -- occurrence per hash, union the non-canonical windows'
            -- marks into maximal spans, rebuild from survivors
            WITH d AS (
                SELECT doc_id, text FROM documents WHERE doc_id < 150
            ), t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> length(x) > 0) AS tk
                FROM d
            ), w AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(
                           list_slice(tk, i, i + 19), ' ')) AS h
                FROM t, unnest(range(1, len(tk) - 18)) AS u(i)
                WHERE len(tk) >= 20
            ), r AS (
                SELECT doc_id, pos,
                       row_number() OVER (PARTITION BY h
                                          ORDER BY doc_id, pos) AS rn
                FROM w
            ), m AS (
                SELECT doc_id, list(DISTINCT idx) AS rmx
                FROM (SELECT doc_id, pos + j AS idx
                      FROM r, unnest(range(0, 20)) AS g(j)
                      WHERE rn > 1)
                GROUP BY doc_id
            ), rb AS (
                SELECT t.doc_id,
                       array_to_string(
                           list_transform(
                               list_filter(range(1, len(tk) + 1),
                                   i -> m.rmx IS NULL
                                        OR NOT list_contains(m.rmx,
                                                             i - 1)),
                               i -> tk[i]),
                           ' ') AS txt
                FROM t LEFT JOIN m ON t.doc_id = m.doc_id
            )
            SELECT doc_id, md5(txt) AS text_md5,
                   CAST(CASE WHEN txt = '' THEN 0
                        ELSE len(string_split(txt, ' ')) END AS BIGINT)
                       AS n_tokens
            FROM rb ORDER BY doc_id
        """)
def exact_substring_dedup_docs(spark, sf_dir):
    """ExactSubstr dedup (Lee et al. 2022 §4.1 — the
    suffix-array-paper law, Spark-re-expressed as k-token window
    hashing whose overlap-union reconstructs maximal duplicated runs):
    remove every corpus-wide duplicated 20-token run from all but its
    canonical (lowest id, pos) occurrence, rebuild docs from surviving
    tokens. The template-generated fixture corpus shares heavily, so
    the law bites. The oracle replays tokenization, window hashing,
    canonical election, mark-union, and the rebuild in DuckDB."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150) \
        .select("doc_id", "text")
    out = dd.exact_substring_dedup(docs, k=20)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"),
        F.size(F.filter(F.split("text", r"\s+"),
                        lambda x: F.length(x) > 0))
         .cast("long").alias("n_tokens")).orderBy("doc_id")


@query(oracle="""
            SELECT min(doc_id) AS doc_id, fp, count(*) AS n_copies
            FROM (SELECT doc_id,
                         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
                  FROM documents)
            GROUP BY fp
            ORDER BY doc_id
        """)
def dedup_exact_docs(spark, sf_dir):
    """Exact dedup: md5 fingerprint of normalized text, min doc_id survives,
    duplicate multiplicity exposed (hash-groupBy — one shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.withColumn("fp", txt.md5_fingerprint(F.col("text")))
    out = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"),
                               F.count(F.lit(1)).alias("n_copies"))
    return out.select("doc_id", "fp", "n_copies").orderBy("doc_id")


@query(oracle="""
            WITH c AS (SELECT c_custkey, c_name FROM customer
                       WHERE c_custkey < 300)
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   levenshtein(a.c_name, b.c_name) AS dist
            FROM c a JOIN c b ON a.c_custkey < b.c_custkey
            WHERE levenshtein(a.c_name, b.c_name) <= 1
            ORDER BY id_a, id_b
        """)
def fuzzy_name_pairs(spark, sf_dir):
    """Edit-distance near-dup pairs (dedup.py fuzzy_dedup_pairs — the
    entity-resolution primitive): customer names within levenshtein 1,
    found via the Gravano VLDB'01 q-gram count filter (a THEOREM, so the
    candidate set provably contains every true pair) + exact verify. The
    oracle is the brute-force law — matching it end-to-end proves the
    filter's completeness on real data."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    return dd.fuzzy_dedup_pairs(cust.select("c_custkey", "c_name"),
                                text_col="c_name", id_col="c_custkey",
                                max_dist=1).orderBy("id_a", "id_b")


@query(oracle="""
            WITH sh AS (
                SELECT doc_id,
                       list_distinct([array_to_string(toks[i:i+1], ' ')
                                      FOR i IN range(1, len(toks))]) AS grams
                FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
                      FROM documents WHERE doc_id < 100)
            ), inv AS (
                SELECT doc_id, unnest(grams) AS g FROM sh
            ), admitted AS (
                SELECT g FROM inv GROUP BY g HAVING count(*) <= 8
            ), cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM (SELECT i.doc_id, i.g FROM inv i JOIN admitted USING (g)) a
                JOIN (SELECT i.doc_id, i.g FROM inv i JOIN admitted USING (g)) b USING (g)
                WHERE a.doc_id < b.doc_id
            )
            SELECT c.id_a, c.id_b,
                   round(CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
                         / len(list_distinct(list_concat(sa.grams, sb.grams))), 4) AS jaccard
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b
            WHERE CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(sa.grams, sb.grams))) >= 0.1
            ORDER BY id_a, id_b
        """)
def ngram_jaccard_docs(spark, sf_dir):
    """n-gram Jaccard similarity pairs (dedup family) on a bounded slice.
    max_df=8 exercises the document-frequency cap (the sf0.01 slice's gram
    DF tops out at 13, so common grams are really excluded); threshold=0.1
    sits below the corpus' max pair similarity (~0.12) so the oracle proves
    a non-empty result."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return dd.ngram_jaccard_pairs(docs, k=2, threshold=0.1, max_df=8) \
        .orderBy("id_a", "id_b")


@query(oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS w
              FROM documents
            ), g AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                         range(1, greatest(len(w) - 1, 1) + 1),
                         i -> array_to_string(w[i:i+1], ' '))) AS gr
              FROM t
            ), pairs AS (
              SELECT l.doc_id AS left_id, r.doc_id AS right_id,
                     len(list_intersect(l.gr, r.gr)) * 1.0
                       / len(list_distinct(list_concat(l.gr, r.gr))) AS j
              FROM g l, g r
              WHERE l.doc_id < 50 AND r.doc_id >= 50 AND r.doc_id < 500
            )
            SELECT left_id, right_id, round(j, 4) AS jaccard
            FROM pairs WHERE j >= 0.08 ORDER BY left_id, right_id
        """)
def similarity_join_docs(spark, sf_dir):
    """Cross-table set-similarity join (dedup.py similarity_join): a
    'curated' slice (doc_id < 50) fuzzy-matched against the rest of the
    corpus by word-2-gram Jaccard with PPJoin-style ascending-DF prefix
    filtering. threshold=0.08 sits below the cross-slice max similarity
    so the oracle proves a non-empty result."""
    docs = _t(spark, sf_dir, "documents")
    left = docs.filter(F.col("doc_id") < 50)
    right = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 500))
    out = dd.similarity_join(left, right, "text", k=2, threshold=0.08)
    return out.orderBy("left_id", "right_id")


@query(oracle=r"""
            WITH norm AS (
                SELECT doc_id, lang, n_chars,
                       regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                           AS t
                FROM documents)
            SELECT doc_id, lang, n_chars
            FROM norm
            WHERE doc_id >= 200
              AND t NOT IN (SELECT t FROM norm WHERE doc_id < 300)
            ORDER BY doc_id
        """)
def incremental_dedup_docs(spark, sf_dir):
    """Incremental dedup of a new crawl batch against a historical corpus
    (dedup.py incremental_dedup): the batch's md5 fingerprints are
    broadcast into a semi join over one historical scan, and the batch
    anti-joins the seen set — neither side shuffles and no Python runs. The id ranges overlap (historical < 300, batch
    >= 200) to model re-crawl overlap: the 100 shared docs are exact
    dups and must drop. The result is exact, hence SQL-oracleable as
    NOT IN over normalized text."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") < 300)
    new = docs.filter(F.col("doc_id") >= 200)
    out = dd.incremental_dedup(new, hist, "text")
    return _ckpt_sort(out.select("doc_id", "lang", "n_chars"), "doc_id")


@query(oracle="""
            WITH u AS (
                SELECT doc_id,
                       CASE
                         WHEN doc_id % 4 = 0 THEN
                           'https://WWW.Site' || (doc_id % 7) ||
                           '.com/page/' || (doc_id % 20) ||
                           '/?m=' || (doc_id % 3) ||
                           '&utm_source=a&n=' || (doc_id % 20) || '#sec'
                         WHEN doc_id % 4 = 1 THEN
                           'https://site' || (doc_id % 7) ||
                           '.com/page/' || (doc_id % 20) ||
                           '?m=' || (doc_id % 3) || '&n=' || (doc_id % 20)
                         WHEN doc_id % 4 = 2 THEN
                           'http://Other.org/item/' || doc_id
                         ELSE
                           'http://other.org/item/' || doc_id || '?gclid=xyz'
                       END AS url,
                       CASE
                         WHEN doc_id % 4 IN (0, 1) THEN
                           'https://site' || (doc_id % 7) ||
                           '.com/page/' || (doc_id % 20) ||
                           '?m=' || (doc_id % 3) || '&n=' || (doc_id % 20)
                         ELSE 'http://other.org/item/' || doc_id
                       END AS canon
                FROM documents)
            SELECT doc_id, url FROM u
            WHERE doc_id = (SELECT min(doc_id) FROM u u2
                            WHERE u2.canon = u.canon)
            ORDER BY doc_id
        """)
def url_dedup_docs(spark, sf_dir):
    """Crawl-level URL dedup (text.py canonical_url/url_dedup — the
    C4/RefinedWeb stage before content dedup): deterministic fixture URLs
    per doc (MID-position tracking params between kept params — the
    separator-bug class — plus fragments and WWW/case aliases) whose
    CANONICAL form is closed-form from doc_id — the oracle derives it
    directly from the law, proving the full regexp chain end-to-end."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = (F.when(d % 4 == 0,
                  F.concat(F.lit("https://WWW.Site"), (d % 7).cast("string"),
                           F.lit(".com/page/"), (d % 20).cast("string"),
                           F.lit("/?m="), (d % 3).cast("string"),
                           F.lit("&utm_source=a&n="), (d % 20).cast("string"),
                           F.lit("#sec")))
            .when(d % 4 == 1,
                  F.concat(F.lit("https://site"), (d % 7).cast("string"),
                           F.lit(".com/page/"), (d % 20).cast("string"),
                           F.lit("?m="), (d % 3).cast("string"),
                           F.lit("&n="), (d % 20).cast("string")))
            .when(d % 4 == 2,
                  F.concat(F.lit("http://Other.org/item/"),
                           d.cast("string")))
            .otherwise(
                F.concat(F.lit("http://other.org/item/"), d.cast("string"),
                         F.lit("?gclid=xyz"))))
    out = txt.url_dedup(docs.withColumn("url", url), "url", "doc_id")
    return out.select("doc_id", "url").orderBy("doc_id")


@query()
def minhash_pairs_docs(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs (rows-only check: the banding
    scheme is not ANSI-SQL-expressible)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dd.minhash_dedup_pairs(docs, k=5, n_hashes=32, bands=8, threshold=0.3)


def _minhash_oracle(split: int | None = None) -> str:
    """Replays minhash_pairs_oracle_docs in DuckDB: the md5 hash_fn makes
    every stage portable — char-5 shingles of normalized text, 60-bit
    md5 token hashes mod the Mersenne prime, the SAME 32 LCG (a,b)
    permutation coefficients inlined as literals, 8 joined-slice band
    keys, distinct id_a<id_b candidates, exact Jaccard >= 0.3.

    With ``split`` set it instead replays minhash_incremental_pairs_docs:
    the band self-join becomes a cross-corpus join of (doc_id >= split) as
    new_id against (doc_id < split) as hist_id, no id ordering filter."""
    from tech_ml_dataset_spark.functions.dedup import _MERSENNE, _minhash_coeffs
    k, n_hashes, bands, thr = 5, 32, 8, 0.3
    rpb = n_hashes // bands
    minexprs = ",\n                   ".join(
        f"list_min(list_transform(h, x -> (x * {a} + {b}) % {_MERSENNE}))"
        for a, b in _minhash_coeffs(n_hashes, 42))
    doc_filter = "doc_id < 200" if split is None else "doc_id < 500"
    if split is None:
        pair_sql = f"""
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id"""
        out_cols = ("id_a", "id_b")
    else:
        pair_sql = f"""
            SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS hist_id
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bkey = r.bkey
             AND l.doc_id >= {split} AND r.doc_id < {split}"""
        out_cols = ("new_id", "hist_id")
    return f"""
        WITH raw AS (
            SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
            FROM documents WHERE {doc_filter} AND text IS NOT NULL
        ), sh AS (
            SELECT doc_id,
                   list_distinct(list_filter(
                       [substring(norm, i, {k})
                        FOR i IN range(1, greatest(length(norm)-{k - 1}, 1)+1)],
                       s -> length(s) = {k})) AS shingles
            FROM raw
        ), hs AS (
            SELECT doc_id, shingles,
                   list_transform(shingles,
                       s -> CAST(('0x' || substring(md5(s),1,15)) AS UBIGINT)
                            % {_MERSENNE}) AS h
            FROM sh WHERE len(shingles) > 0
        ), sig AS (
            SELECT doc_id,
                   [{minexprs}] AS sig
            FROM hs
        ), banded AS (
            SELECT doc_id, t.b AS band,
                   array_to_string(sig[t.b*{rpb}+1 : t.b*{rpb}+{rpb}], ',') AS bkey
            FROM sig, (SELECT unnest(range(0, {bands})) AS b) t
        ), pairs AS ({pair_sql}
        )
        SELECT p.{out_cols[0]}, p.{out_cols[1]},
               round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.shingles, b.shingles))),
                     4) AS jaccard
        FROM pairs p
        JOIN sh a ON p.{out_cols[0]} = a.doc_id
        JOIN sh b ON p.{out_cols[1]} = b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(a.shingles, b.shingles))) >= {thr}
        ORDER BY {out_cols[0]}, {out_cols[1]}
    """


@query(oracle=_minhash_oracle())
def minhash_pairs_oracle_docs(spark, sf_dir):
    """MinHash+LSH near-dup pairs, engine-portable hashing
    (dedup.py minhash_dedup_pairs hash_fn="md5"): token hashes are
    md5-derived and band keys are the joined band slice, so DuckDB replays
    signature → banding → candidate join → exact-Jaccard verify
    BIT-FOR-BIT — promoting the MinHash banding law itself from rows-only
    to hash-checked (only the xxhash64/murmur primitives blocked an
    oracle, not the algebra). Same params as
    `minhash_pairs_docs`, which keeps exercising the production
    xxhash64 path."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dd.minhash_dedup_pairs(docs, k=5, n_hashes=32, bands=8,
                                  threshold=0.3, hash_fn="md5") \
             .orderBy("id_a", "id_b")


@query(oracle=_minhash_oracle(split=300))
def minhash_incremental_pairs_docs(spark, sf_dir):
    """Cross-corpus incremental near-dup pairs (dedup.py
    minhash_pairs_between, hash_fn="md5"): the new batch (doc_id >= 300)
    banded against the accepted corpus (doc_id < 300) — the RefinedWeb /
    FineWeb continuous-crawl near-dup filter, LSH band equi-join between
    corpora instead of a self-join, exact-Jaccard verified. Portable
    hashing makes the whole cross-corpus law DuckDB-replayable."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return dd.minhash_pairs_between(
        docs.filter(F.col("doc_id") >= 300),
        docs.filter(F.col("doc_id") < 300),
        k=5, n_hashes=32, bands=8, threshold=0.3, hash_fn="md5")


@query()
def simhash_docs(spark, sf_dir):
    """SimHash fingerprints (rows-only: xxhash64 is Spark-specific)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_df(docs, "doc_id", "text")


def _simhash_oracle() -> str:
    """Replays simhash_oracle_docs in DuckDB: word 2-grams of normalized
    text (short-doc partial-gram law included), 60-bit md5 token hashes,
    per-bit majority counts as 60 grouped sums, fingerprint = fold of
    majority bits; gram-less docs (empty/NULL text) fingerprint to 0."""
    bitsums = ",\n                   ".join(
        f"sum(CAST((h >> {i}) & 1 AS BIGINT)) AS b{i}" for i in range(60))
    fold = "\n                 + ".join(
        f"(CASE WHEN 2*b{i} > n THEN {1 << i} ELSE 0 END)" for i in range(60))
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               t -> length(t) > 0) AS w
            FROM documents WHERE text IS NOT NULL
        ), grams AS (
            SELECT doc_id,
                   CASE WHEN len(w) = 0 THEN []
                        WHEN len(w) = 1 THEN [w[1]]
                        ELSE list_distinct([array_to_string(w[i:i+1], ' ')
                                            FOR i IN range(1, len(w))])
                   END AS g
            FROM toks
        ), exploded AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(gram), 1, 15)) AS UBIGINT) AS h
            FROM (SELECT doc_id, unnest(g) AS gram FROM grams)
        ), counted AS (
            SELECT doc_id, count(*) AS n,
                   {bitsums}
            FROM exploded GROUP BY doc_id
        ), fp AS (
            SELECT doc_id,
                   CAST({fold} AS BIGINT) AS simhash
            FROM counted
        )
        SELECT d.doc_id, coalesce(fp.simhash, 0) AS simhash
        FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
        ORDER BY d.doc_id
    """


@query(oracle=_simhash_oracle())
def simhash_oracle_docs(spark, sf_dir):
    """SimHash with engine-portable hashing (dedup.py simhash_df
    hash_fn="md5"): the 60-bit md5 token hash makes every stage — word
    2-grams, per-bit counts, majority vote, fingerprint fold — plain
    integer SQL, so DuckDB reproduces each document's fingerprint exactly,
    promoting the SimHash bit-majority law from rows-only to
    hash-checked. `simhash_docs` keeps exercising the production
    xxhash64 path."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_df(docs, "doc_id", "text", hash_fn="md5") \
             .orderBy("doc_id")


def _winnow_mn_ctes(k: int = 8, w: int = 4) -> str:
    """Shared fingerprint CTEs (raw -> co -> hs -> mn) replaying
    winnow_fingerprints in DuckDB: the numpy rolling hash h = h*B + b
    per step (uint64 wrap) equals sum(b_j * B^(k-1-j)) mod 2^64, so each
    position hashes via precomputed power literals in HUGEINT; window
    minima are taken in the UNSIGNED domain (numpy mins uint64). The
    fixture text is ASCII, so unicode(char) == utf-8 byte."""
    M = 1 << 64
    powers = [pow(1099511628211, k - 1 - j, M) for j in range(k)]
    poly = " + ".join(f"codes[p+{j+1}] * {p_}::HUGEINT"
                      for j, p_ in enumerate(powers))
    wmin = ", ".join(f"h[q+{i+1}]" for i in range(w))
    return f"""
        WITH raw AS (
            SELECT doc_id, CASE WHEN text IS NULL THEN NULL
                   ELSE regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                   END AS norm
            FROM documents
        ), co AS (
            SELECT doc_id, CASE WHEN norm IS NULL THEN NULL
                   ELSE list_transform(string_split(norm, ''),
                                       c -> unicode(c)) END AS codes
            FROM raw
        ), hs AS (
            SELECT doc_id,
                   CASE WHEN codes IS NULL OR len(codes) < {k}
                        THEN CAST([] AS HUGEINT[])
                   ELSE list_transform(range(0, len(codes)-{k}+1),
                        p -> ({poly}) % 18446744073709551616::HUGEINT)
                   END AS h
            FROM co
        ), mn AS (
            SELECT doc_id, CASE WHEN len(h) = 0 THEN CAST([] AS HUGEINT[])
                   WHEN len(h) < {w} THEN [list_min(h)]
                   ELSE list_transform(range(0, len(h)-{w}+1),
                        q -> least({wmin})) END AS mins
            FROM hs
        )"""


def _winnow_oracle(k: int = 8, w: int = 4) -> str:
    """Replays winnow_docs: fingerprint CTEs, then per-doc count + min —
    minima reinterpreted as signed int64 (the numpy .view(int64) step)."""
    return _winnow_mn_ctes(k, w) + """
        SELECT doc_id,
               len(list_distinct(mins)) AS n_fp,
               list_min(list_transform(list_distinct(mins),
                    x -> CAST(x - CASE
                         WHEN x >= 9223372036854775808::HUGEINT
                         THEN 18446744073709551616::HUGEINT
                         ELSE 0::HUGEINT END AS BIGINT))) AS fp_min
        FROM mn
    """


@query(oracle=_winnow_oracle())
def winnow_docs(spark, sf_dir):
    """Winnowing fingerprints (MOSS rolling-hash scheme). ORACLED: the
    rolling hash is a base-1099511628211 polynomial over UTF-8
    bytes mod 2^64 — DuckDB replays it with HUGEINT arithmetic and
    precomputed base powers (ASCII fixture text makes codepoints ==
    bytes), window minima in the unsigned domain, then the int64
    reinterpretation. Returns per-doc fingerprint count + min — the
    inverted-index feed for substring-level near-dup detection."""
    docs = _t(spark, sf_dir, "documents")
    docs = dtu.ensure_parallelism(docs, "doc_id")  # CPU-bound fan-out
    fp = txt.winnow_fingerprints(F.col("text"), k=8, w=4)
    # NOTE: deliberately NO final orderBy, unlike the other five
    # order-nondeterministic queries — a total sort here either
    # re-executes the fingerprint chain (range-partition sampling runs
    # the child twice: measured 0.48 -> 0.82 s) or, if applied to the
    # scan first, lets AQE coalesce away the decode fan-out. The
    # driver hashes a sorted row multiset (41 queries proven), so
    # the multiset order stands.
    return docs.select("doc_id", F.size(fp).alias("n_fp"),
                       F.array_min(fp).alias("fp_min"))


def _winnow_pairs_oracle(k: int = 8, w: int = 4, min_shared: int = 20,
                         max_df: int = 32, id_max: int = 500) -> str:
    """Replays winnow_pairs_docs: the _winnow_oracle fingerprint CTEs,
    then the inverted-index pair law — explode distinct fps, drop fps in
    > max_df docs, pair on shared fp with id_a < id_b, count >=
    min_shared, containment = shared / min(|A|, |B|)."""
    return _winnow_mn_ctes(k, w) + f""", fp AS (
            SELECT doc_id, list_distinct(mins) AS fps
            FROM mn WHERE doc_id < {id_max}
        ), sized AS (
            SELECT doc_id, len(fps) AS nf, unnest(fps) AS h FROM fp
        ), adm AS (
            SELECT h FROM (SELECT h, count(*) AS c FROM sized GROUP BY h)
            WHERE c <= {max_df}
        ), inv AS (
            SELECT s.doc_id, s.nf, s.h FROM sized s JOIN adm USING (h)
        ), pr AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.nf AS na, b.nf AS nb, count(*) AS shared_fps
            FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
            HAVING count(*) >= {min_shared}
        )
        SELECT id_a, id_b, shared_fps,
               round(CAST(shared_fps AS DOUBLE) / least(na, nb), 4)
                   AS containment
        FROM pr
    """


@query(oracle=_winnow_pairs_oracle())
def winnow_pairs_docs(spark, sf_dir):
    """Substring-level near-dup pairs (dedup.winnow_dedup_pairs —
    Lee et al. 2022 exact-substring-dedup candidates via the MOSS
    fingerprint inverted index; ORACLED: the rolling hash replays
    in DuckDB HUGEINT, see winnow_docs). Pairs sharing >= 2 selected
    fingerprints, i.e. a
    verbatim block of >= k+w-1 chars, with a containment score. The
    synthetic corpus is template-generated (massive substring sharing),
    so min_shared sits high to keep the pair set selective (47 pairs at
    sf0.01; min_shared=2/max_df=32 yields 71k — everything shares
    template fragments)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    out = dd.winnow_dedup_pairs(docs, k=8, w=4, min_shared=20, max_df=32)
    return out.orderBy("id_a", "id_b")
