"""Text operator queries: statistics, language models, tokenizers, quality
signals and the webtext (HTML, C4, URL, robots) pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from registry import _ckpt_sort, _doc_slice, _r4, _r4b, _t, query
from tech_ml_dataset_spark.functions import multimodal as mmod
from tech_ml_dataset_spark.functions import text as txt
from tech_ml_dataset_spark.functions import webtext as wt
from tech_ml_dataset_spark.operators import aggregate as agg
from tech_ml_dataset_spark.operators import setops as st


@query(oracle="""
            WITH planted AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@mail.example.com from 10.0.'
                            || CAST(doc_id % 256 AS VARCHAR)
                            || '.7 call +1415'
                            || lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0')
                           AS t
                FROM documents WHERE doc_id < 300
            )
            , s1 AS (
                SELECT doc_id, t,
                       regexp_replace(t,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+',
                        '[EMAIL]', 'g') AS t1
                FROM planted
            ), s2 AS (
                SELECT *, regexp_replace(t1,
                        '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '[IPV4]', 'g')
                       AS t2
                FROM s1
            ), s3 AS (
                SELECT *, regexp_replace(t2,
                        '\\+[0-9]{9,14}\\b', '[PHONE]', 'g') AS t3
                FROM s2
            )
            -- sequential counts: each category counted on the text with
            -- earlier categories already redacted (matches pii_counts)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+'))
                        AS INT) AS n_email,
                   CAST(len(regexp_extract_all(t1,
                        '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS INT) AS n_ipv4,
                   CAST(len(regexp_extract_all(t2,
                        '\\+[0-9]{9,14}\\b')) AS INT) AS n_phone,
                   md5(t3) AS redact_md5,
                   CAST(length(t3) AS INT) AS n_chars_redacted
            FROM s3 ORDER BY doc_id
        """)
def pii_redact_docs(spark, sf_dir):
    """PII detect + redact (functions/text.py PII_PATTERNS; the standard
    pre-training scrub). Patterns are restricted to Java-regex ∩ RE2
    syntax so the DuckDB oracle runs the SAME regexes. The corpus has no
    natural PII, so the query plants one deterministic email/IPv4/phone
    per document, then counts matches and hashes the redacted text."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1415"),
            F.lpad((F.col("doc_id") % 1000000).cast("string"), 6, "0"),
        ).alias("t"))
    counts = txt.pii_counts(F.col("t"))
    return (planted.select(
                "doc_id",
                counts["email"].alias("n_email"),
                counts["ipv4"].alias("n_ipv4"),
                counts["phone"].alias("n_phone"),
                F.md5(txt.redact_pii(F.col("t"))).alias("redact_md5"),
                F.length(txt.redact_pii(F.col("t"))).alias("n_chars_redacted"))
            .orderBy("doc_id"))


@query()
def quality_classifier_docs(spark, sf_dir):
    """fastText-style hashed-n-gram linear quality scorer (r10,
    text.hashed_ngram_score — the model class CCNet/FineWeb-class
    pipelines deploy for quality filtering; training is offline,
    THIS is the 100 TB inference path): 64-bucket weight vector from
    the arithmetic law w_i = ((i*37) %% 211 - 105)/211, word unigrams
    + bigrams (fastText wordNgrams), engine-portable md5-prefix
    bucket hash, sigmoid score — all one scan-fused F.aggregate
    projection, no shuffle, no UDF. Rows-only this round per the
    staged-promotion precedent (COVERAGE.md holds the VERIFIED
    draft; promotion takes an r11 window slot)."""
    W = [((i * 37) % 211 - 105) / 211.0 for i in range(64)]
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300) \
        .select("doc_id", "text")
    out = txt.hashed_ngram_score(docs, W, ngrams=2, seed=7)
    return out.select("doc_id",
                      _r4b(F.col("quality_score")).alias("score")) \
              .orderBy("doc_id")


@query()
def token_mix_docs(spark, sf_dir):
    """Token-budget source mixing (r10, text.token_budget_mix — the
    Dolma/FineWeb recipe step: give each source a token budget
    total*weight/sum(weights) and keep its deterministic
    md5-priority prefix of documents whose inclusive running token
    sum fits). Sources src0-src3 weighted 4/3/2/1 over a 3000-token
    total, token counts from token_count over the real text. The
    two-phase bucket cut (map-side (source,bucket) sums + driver
    prefix + boundary-bucket-only window) is bit-identical to the
    window-cumsum law the staged oracle replays. Rows-only this
    round per the r9 staged-promotion precedent (COVERAGE.md holds
    the VERIFIED draft; promotion takes an r11 window slot)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "text")
    d = docs.withColumn("n_tokens", txt.token_count(F.col("text")))
    out = txt.token_budget_mix(
        d, {"src0": 4.0, "src1": 3.0, "src2": 2.0, "src3": 1.0},
        total_tokens=3000)
    return out.select("doc_id", "source", "n_tokens").orderBy("doc_id")


@query(oracle="""
            -- closed-form replay of the RFC 9309 verdict per
            -- (host, path) arm: h1 disallows everything, h2 has no
            -- robots (allowed), h0 allows /public/* and the exact
            -- /private/ok (longest-match Allow with $ anchor) and
            -- disallows /private* and /tmp/
            SELECT doc_id,
                   'https://h' || (doc_id % 3) || '.ex.com' ||
                   CASE doc_id % 5
                     WHEN 0 THEN '/public/a' || doc_id
                     WHEN 1 THEN '/private/x' || doc_id
                     WHEN 2 THEN '/private/ok'
                     WHEN 3 THEN '/private/ok' || doc_id
                     ELSE '/tmp/f' || doc_id
                   END AS url,
                   CASE WHEN doc_id % 3 = 2 THEN TRUE
                        WHEN doc_id % 3 = 1 THEN FALSE
                        WHEN doc_id % 5 IN (0, 2) THEN TRUE
                        ELSE FALSE
                   END AS robots_allowed
            FROM documents WHERE doc_id < 600
            ORDER BY doc_id
        """)
def robots_filter_docs(spark, sf_dir):
    """robots.txt frontier filtering (r9, functions/robots.py —
    RFC 9309, the crawl gate after the URL-quality battery): three
    host arms (h0: a wildcard/anchor rule set — Disallow /private*,
    Allow /private/ok$, Disallow /tmp/; h1: Disallow everything; h2:
    no robots.txt at all) x five path arms per doc_id. parse_robots
    turns the law-generated robots files into the slim rules table,
    robots_filter broadcasts it and elects the longest-match verdict
    in a pure projection. The oracle replays the closed-form verdict
    per (host, path) arm — one wrong wildcard translation, tie-break,
    or host normalization flips a boolean and breaks the hash."""
    from tech_ml_dataset_spark.functions import robots as rb

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 600) \
        .select("doc_id")
    m3 = (F.col("doc_id") % 3).cast("string")
    m5 = F.col("doc_id") % 5
    i = F.col("doc_id").cast("string")
    path = (F.when(m5 == 0, F.concat(F.lit("/public/a"), i))
             .when(m5 == 1, F.concat(F.lit("/private/x"), i))
             .when(m5 == 2, F.lit("/private/ok"))
             .when(m5 == 3, F.concat(F.lit("/private/ok"), i))
             .otherwise(F.concat(F.lit("/tmp/f"), i)))
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://h"), m3, F.lit(".ex.com"), path)
         .alias("url"))
    robots = spark.createDataFrame(
        [("h0.ex.com", "User-agent: *\nDisallow: /private*\n"
                       "Allow: /private/ok$\nDisallow: /tmp/\n"),
         ("h1.ex.com", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string")       # h2: no robots at all
    out = rb.robots_filter(urls, rb.parse_robots(robots))
    return out.select("doc_id", "url", "robots_allowed") \
              .orderBy("doc_id")


@query(oracle="""
            -- sitemap seeding law replay (promoted r10): one urlset
            -- per host with a priority-carrying and a bare loc
            WITH s AS (SELECT doc_id,
                'https://h' || (doc_id % 4) || '.ex.com' AS host
                FROM documents WHERE doc_id < 200)
            SELECT src, loc, priority, is_index FROM (
              SELECT host || '/sitemap' || doc_id || '.xml' AS src,
                     host || '/p' || doc_id AS loc,
                     CAST('0.' || (doc_id % 9) AS DOUBLE) AS priority,
                     FALSE AS is_index FROM s
              UNION ALL
              SELECT host || '/sitemap' || doc_id || '.xml',
                     host || '/q' || doc_id, NULL, FALSE FROM s)
            ORDER BY src, loc
        """)
def sitemap_seed_docs(spark, sf_dir):
    """Sitemap frontier seeding (r9, rows-only below the fold — oracle
    promotion planned for r10): law-built robots.txt Sitemap:
    directives + urlset XML per host -> sitemap_urls_from_robots ->
    parse_sitemaps -> flat seed rows, every field closed-form."""
    from tech_ml_dataset_spark.functions import robots as rb

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200) \
        .select("doc_id")
    i = F.col("doc_id").cast("string")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("string"),
                    F.lit(".ex.com"))
    xml = F.concat(
        F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/'
              'sitemap/0.9"><url><loc>https://'),
        host, F.lit("/p"), i,
        F.lit("</loc><priority>0."),
        (F.col("doc_id") % 9).cast("string"),
        F.lit("</priority></url><url><loc>https://"),
        host, F.lit("/q"), i, F.lit("</loc></url></urlset>"))
    sm = docs.select(
        "doc_id",
        F.concat(F.lit("https://"), host, F.lit("/sitemap"), i,
                 F.lit(".xml")).alias("src"),
        xml.alias("xml"))
    out = rb.parse_sitemaps(sm, src_col="src")
    return _ckpt_sort(out.select("src", "loc", "priority", "is_index") \
              , "src", "loc")


@query(oracle="""
            -- rebuild the six URL shapes, replay host extraction, path
            -- depth, param count, digit fraction, the IP test, and the
            -- suffix-matched domain blocklist
            WITH ids AS (
                SELECT doc_id, doc_id % 6 AS m FROM documents
                WHERE doc_id < 360
            ), u AS (
                SELECT doc_id,
                       CASE m
                         WHEN 0 THEN 'https://www.site' || (doc_id % 50)
                                     || '.com/a/b?x=1'
                         WHEN 1 THEN 'http://10.0.' || (doc_id % 256)
                                     || '.9/p'
                         WHEN 2 THEN 'https://n' || doc_id
                                     || '123456.com/x'
                         WHEN 3 THEN 'https://sub.evil.com/p' || doc_id
                         WHEN 4 THEN 'https://ok.org'
                                     || repeat('/d',
                                               CAST(doc_id % 15 AS INT))
                         ELSE 'https://q.net/p?' || array_to_string(
                                  list_transform(
                                      range(0, CAST(doc_id % 12 AS INT)
                                               + 1),
                                      i -> 'k' || i || '=v'), '&')
                       END AS url
                FROM ids
            ), sig AS (
                SELECT doc_id, url,
                       lower(regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1))
                           AS host,
                       regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)',
                           1) AS path,
                       regexp_extract(url, '\\?([^#]*)', 1) AS query
                FROM u
            ), calc AS (
                SELECT doc_id, host, length(url) AS url_len,
                       CASE WHEN length(path) > 0
                            THEN len(string_split(path, '/')) - 1
                            ELSE 0 END AS url_path_depth,
                       CASE WHEN length(query) > 0
                            THEN len(string_split(query, '&'))
                            ELSE 0 END AS url_n_params,
                       CASE WHEN length(host) > 0
                            THEN CAST(length(regexp_replace(host,
                                     '[^0-9]', '', 'g')) AS DOUBLE)
                                 / length(host)
                            ELSE 0.0 END AS dfrac,
                       CASE WHEN length(host) > 0
                            THEN len(string_split(host, '.')) - 1
                            ELSE 0 END AS url_n_subdomains,
                       regexp_matches(host,
                           '^\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}$')
                           AS url_is_ip
                FROM sig
            )
            SELECT doc_id, host AS url_host,
                   CAST(url_len AS INT) AS url_len,
                   CAST(url_path_depth AS INT) AS url_path_depth,
                   CAST(url_n_params AS INT) AS url_n_params,
                   round(dfrac * 10000) / 10000 AS digit_frac,
                   CAST(url_n_subdomains AS INT) AS url_n_subdomains,
                   url_is_ip,
                   (url_len <= 2048 AND url_path_depth <= 10
                    AND url_n_params <= 8 AND NOT url_is_ip
                    AND dfrac <= 1.0/3.0
                    AND NOT regexp_matches(host,
                            '(^|\\.)(evil\\.com)$')) AS url_keep
            FROM calc ORDER BY doc_id
        """)
def url_quality_docs(spark, sf_dir):
    """URL-level crawl-frontier filtering (webtext.py
    url_quality_signals — RefinedWeb §3.1: reject before fetching):
    synthesize six URL shapes per doc_id (clean page, IP-literal host,
    digit-heavy host, blocked-domain subdomain, over-deep path,
    param-stuffed query), run the pure-Catalyst battery, return every
    signal + keep. The oracle rebuilds the same URLs and replays host
    extraction, path depth, param count, digit fraction, and the
    suffix-matched blocklist in SQL."""
    m = F.col("doc_id") % 6
    url = F.when(m == 0, F.concat(F.lit("https://www.site"),
                                  (F.col("doc_id") % 50).cast("string"),
                                  F.lit(".com/a/b?x=1"))) \
        .when(m == 1, F.concat(F.lit("http://10.0."),
                               (F.col("doc_id") % 256).cast("string"),
                               F.lit(".9/p"))) \
        .when(m == 2, F.concat(F.lit("https://n"),
                               F.col("doc_id").cast("string"),
                               F.lit("123456.com/x"))) \
        .when(m == 3, F.concat(F.lit("https://sub.evil.com/p"),
                               F.col("doc_id").cast("string"))) \
        .when(m == 4, F.concat(F.lit("https://ok.org"),
                               F.repeat(F.lit("/d"),
                                        (F.col("doc_id") % 15)
                                        .cast("int")))) \
        .otherwise(F.concat(F.lit("https://q.net/p?"),
                            F.array_join(
                                F.transform(
                                    F.sequence(
                                        F.lit(0),
                                        (F.col("doc_id") % 12).cast("int")),
                                    lambda i: F.concat(
                                        F.lit("k"), i.cast("string"),
                                        F.lit("=v"))), "&")))
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 360) \
        .select("doc_id", url.alias("url"))
    out = wt.url_quality_signals(docs, "url",
                                 blocked_domains=("evil.com",))
    return out.select("doc_id", "url_host", "url_len", "url_path_depth",
                      "url_n_params",
                      F.col("url_host_digit_frac").cast("double")
                       .alias("digit_frac"),
                      "url_n_subdomains", "url_is_ip", "url_keep") \
              .orderBy("doc_id")


@query(oracle="""
            -- replays the fixture dimension formulas; the Spark side
            -- must PARSE these numbers back out of real PNG/JPEG/GIF
            -- header bytes with pure Catalyst expressions
            WITH ids AS (
                SELECT doc_id, doc_id % 3 AS m3, doc_id % 5 AS v
                FROM documents WHERE doc_id < 120
            )
            SELECT doc_id,
                   CASE m3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                           ELSE 'gif' END AS fmt,
                   CAST(CASE WHEN m3 = 1 THEN 8 * (1 + (v + 1) % 2)
                             ELSE 7 + (v * 3) % 6 END AS INT) AS width,
                   CAST(CASE WHEN m3 = 1 THEN 8 * (1 + v % 3)
                             ELSE 5 + v END AS INT) AS height
            FROM ids ORDER BY doc_id
        """)
def media_dims_docs(spark, sf_dir):
    """JVM-side image dimension scan (beyond-reference multimodal
    surface): width/height parsed from PNG IHDR (fixed-offset u32 BE),
    GIF logical screen (u16 LE), and JPEG SOF (a BOUNDED marker walk
    via F.aggregate — the SOF segment floats behind variable APPn/DQT/
    DHT prefixes) — pure Catalyst byte expressions, NO Python stage and
    no pixel decode: a 100 TB dimensions audit reads a few header bytes
    per row. Fixture dims vary per doc (h/w formulas below), so the
    oracle checks the PARSE, not a constant."""
    binned = _doc_slice(spark, sf_dir, 120)
    # ONE fused fixture stage switching (format, dims) per row — the
    # original 3-formats x 5-variants enumeration built a 15-branch
    # union (15 parquet scans + 15 Python stages) that cost 16.8 s at
    # sf0.1 for 120 rows; this single mapInPandas is the same formulas
    # (synthesize_png/jpeg/gif pixel laws, dims keyed on doc_id % 5)
    # behind one scan and one Python stage.
    from pyspark.sql import types as T

    from tech_ml_dataset_spark.functions import gif as gifc
    from tech_ml_dataset_spark.functions import jpeg as jpgc
    from tech_ml_dataset_spark.functions import png as pngc

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("fmt", T.StringType()),
                           T.StructField("b", T.BinaryType())])

    def fixture(it):
        import numpy as np
        import pandas as pd
        for pdf in it:
            fmts, bs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                v = did % 5
                m3 = did % 3
                if m3 == 0:
                    h, w = 5 + v, 7 + (v * 3) % 6
                    arr = ((did * 31 + np.arange(h * w * 3) * 7) % 256) \
                        .astype(np.uint8).reshape(h, w, 3)
                    fmts.append("png")
                    bs.append(pngc.encode(arr, filter_mode="cycle"))
                elif m3 == 1:
                    h, w = 8 * (1 + v % 3), 8 * (1 + (v + 1) % 2)
                    bidx = np.arange((h // 8) * (w // 8),
                                     dtype=np.int64).reshape(h // 8, w // 8)
                    vals = (did * 37 + bidx * 11) % 256
                    arr = np.repeat(np.repeat(vals, 8, 0), 8, 1) \
                        .astype(np.uint8)
                    fmts.append("jpeg")
                    bs.append(jpgc.encode(arr, quant=1))
                else:
                    h, w = 5 + v, 7 + (v * 3) % 6
                    arr = ((did * 29 + np.arange(h * w) * 13) % 256) \
                        .astype(np.uint8).reshape(h, w)
                    fmts.append("gif")
                    bs.append(gifc.encode(arr))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "fmt": fmts, "b": bs})

    allb = binned.mapInPandas(fixture, schema)
    out = mmod.with_image_dims(allb, "b")
    return _ckpt_sort(out.select("doc_id", "fmt",
                      F.col("dims.width").alias("width"),
                      F.col("dims.height").alias("height")) \
              , "doc_id")


@query(oracle="""
            SELECT lang, count(*) AS n_docs,
                   round(avg(CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END), 4)
                       AS avg_tokens,
                   max(length(text)) AS max_chars
            FROM documents
            GROUP BY lang ORDER BY lang
        """)
def text_stats_by_lang(spark, sf_dir):
    """Token counting + quality features aggregated per language."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.select("lang",
                    txt.token_count(F.col("text")).alias("n_tokens"),
                    txt.char_count(F.col("text")).alias("n_chars_calc"))
    out = agg.group_by_column_agg(
        s, "lang",
        {"n_docs": ("row-count", None),
         "avg_tokens": ("mean", "n_tokens"),
         "max_chars": ("max", "n_chars_calc")})
    out = out.withColumn("avg_tokens", _r4(F.col("avg_tokens")))
    return st.sort_by_column(out, "lang")


@query(oracle="""
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
            FROM documents
        """)
def doc_fingerprints(spark, sf_dir):
    """Per-document stable fingerprint + quality band projection."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        txt.md5_fingerprint(F.col("text")).alias("fp"),
        txt.token_count(F.col("text")).alias("n_tokens"))


@query(oracle="""
            WITH ex AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
                FROM documents
            ), ex2 AS (
                SELECT doc_id, w FROM ex WHERE length(w) > 0
            ), freq AS (
                SELECT w, count(*) AS c FROM ex2 GROUP BY w
            ), tot AS (
                SELECT CAST(sum(c) AS DOUBLE) AS N,
                       CAST(count(*) AS DOUBLE) AS V FROM freq
            )
            SELECT e.doc_id,
                   round(-avg(log2((f.c + 0.5) / (tot.N + 0.5 * tot.V))), 4)
                       AS bits_per_token,
                   count(*) AS n_scored_tokens
            FROM ex2 e JOIN freq f USING (w), tot
            GROUP BY e.doc_id
            ORDER BY doc_id
        """)
def unigram_lm_docs(spark, sf_dir):
    """CCNet-style perplexity proxy: corpus unigram LM (Lidstone-smoothed),
    mean -log2 p(token) per document. Two linear aggregations, no Python."""
    docs = _t(spark, sf_dir, "documents")
    out = txt.unigram_logprob_score(docs)
    return out.select("doc_id",
                      _r4(F.col("bits_per_token")).alias("bits_per_token"),
                      "n_scored_tokens").orderBy("doc_id")


@query(oracle="""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(trim(text)),
                                                      '\\s+'),
                                   w -> length(w) > 0) AS toks
                FROM documents
            ), ex2 AS (
                SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
                    SELECT doc_id,
                           unnest([struct_pack(w1 := toks[i],
                                               w2 := toks[i+1])
                                   FOR i IN range(1, len(toks))]) AS bg
                    FROM t WHERE len(toks) >= 2)
            ), bfreq AS (
                SELECT w1, w2, count(*) AS c12 FROM ex2 GROUP BY w1, w2
            ), ufreq AS (
                SELECT w, count(*) AS c
                FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
            ), tot AS (
                SELECT CAST(sum(c) AS DOUBLE) AS N,
                       CAST(count(*) AS DOUBLE) AS V FROM ufreq
            )
            SELECT e.doc_id,
                   round(-avg(log2(0.75 * b.c12 / u1.c
                                   + 0.25 * (u2.c + 0.5)
                                     / (tot.N + 0.5 * tot.V))), 4)
                       AS bits_per_bigram,
                   count(*) AS n_bigrams
            FROM ex2 e
            JOIN bfreq b USING (w1, w2)
            JOIN ufreq u1 ON u1.w = e.w1
            JOIN ufreq u2 ON u2.w = e.w2, tot
            GROUP BY e.doc_id
            ORDER BY doc_id
        """)
def bigram_lm_docs(spark, sf_dir):
    """Interpolated bigram LM (Jelinek-Mercer over corpus-self-trained
    counts) — the next rung above unigram_lm_docs on the CCNet perplexity
    ladder; catches burst-repetitive text a unigram LM scores as typical.
    Oracle replays tokenize -> bigram/unigram counts -> interpolation in
    DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    out = txt.bigram_logprob_score(docs)
    return out.select("doc_id",
                      _r4(F.col("bits_per_bigram")).alias("bits_per_bigram"),
                      "n_bigrams").orderBy("doc_id")


@query(oracle="""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(trim(text)),
                                                      '\\s+'),
                                   w -> length(w) > 0) AS toks
                FROM documents
            ), ex2 AS (
                SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
                    SELECT doc_id,
                           unnest([struct_pack(w1 := toks[i],
                                               w2 := toks[i+1])
                                   FOR i IN range(1, len(toks))]) AS bg
                    FROM t WHERE len(toks) >= 2)
            ), bfreq AS (
                SELECT w1, w2, count(*) AS c12 FROM ex2 GROUP BY w1, w2
            ), lfreq AS (
                SELECT w1, sum(c12) AS c1, count(*) AS n1l
                FROM bfreq GROUP BY w1
            ), rfreq AS (
                SELECT w2, count(*) AS n1r FROM bfreq GROUP BY w2
            ), tot AS (
                SELECT CAST(count(*) AS DOUBLE) AS B FROM bfreq
            )
            SELECT e.doc_id,
                   round(-avg(log2(greatest(b.c12 - 0.75, 0.0) / l.c1
                                   + 0.75 * l.n1l / l.c1
                                     * r.n1r / tot.B)), 4)
                       AS kn_bits_per_bigram,
                   count(*) AS n_bigrams
            FROM ex2 e
            JOIN bfreq b USING (w1, w2)
            JOIN lfreq l ON l.w1 = e.w1
            JOIN rfreq r ON r.w2 = e.w2, tot
            GROUP BY e.doc_id
            ORDER BY doc_id
        """)
def kn_bigram_lm_docs(spark, sf_dir):
    """Interpolated KNESER-NEY bigram LM (text.py kneser_ney_bigram_score;
    Kneser & Ney 1995 absolute discounting + continuation probability) —
    the publication-standard smoothing above bigram_lm_docs' Jelinek-
    Mercer. The oracle replays tokenize -> bigram counts -> left/right
    type counts -> the max(c-D,0)/c1 + D*n1l/c1 * n1r/B interpolation
    in DuckDB over the identical count tables."""
    docs = _t(spark, sf_dir, "documents")
    out = txt.kneser_ney_bigram_score(docs)
    return out.select("doc_id",
                      _r4(F.col("kn_bits_per_bigram"))
                      .alias("kn_bits_per_bigram"),
                      "n_bigrams").orderBy("doc_id")


@query(oracle="""
            WITH ex AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
                FROM documents
            ), ex2 AS (
                SELECT doc_id, w FROM ex WHERE length(w) > 0
            ), freq AS (
                SELECT w, count(*) AS c FROM ex2 GROUP BY w
            ), tot AS (
                SELECT CAST(sum(c) AS DOUBLE) AS N,
                       CAST(count(*) AS DOUBLE) AS V FROM freq
            ), scored AS (
                SELECT e.doc_id,
                       -avg(log2((f.c + 0.5) / (tot.N + 0.5 * tot.V)))
                           AS bits_per_token
                FROM ex2 e JOIN freq f USING (w), tot
                GROUP BY e.doc_id
            ), ranked AS (
                SELECT d.doc_id, d.lang, s.bits_per_token,
                       ntile(3) OVER (PARTITION BY d.lang
                                      ORDER BY round(s.bits_per_token, 4)
                                          ASC NULLS LAST, d.doc_id) AS b
                FROM documents d LEFT JOIN scored s USING (doc_id)
            )
            SELECT doc_id, lang,
                   round(bits_per_token, 4) AS bits_per_token,
                   CASE WHEN bits_per_token IS NULL THEN NULL
                        WHEN b = 1 THEN 'head'
                        WHEN b = 2 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM ranked
            ORDER BY doc_id
        """)
def ccnet_buckets_docs(spark, sf_dir):
    """CCNet head/middle/tail quality buckets per language (Wenzek et al.
    2020): unigram-LM score + per-lang ntile(3) on the 4-decimal-rounded
    score with doc_id tiebreak (engine-portable ordering — raw-double
    ranks would flip on ULP)."""
    docs = _t(spark, sf_dir, "documents")
    out = txt.ccnet_buckets(docs, by="lang")
    return out.select("doc_id", "lang",
                      _r4(F.col("bits_per_token")).alias("bits_per_token"),
                      "ppl_bucket").orderBy("doc_id")


@query(oracle="""
            WITH ex AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
                FROM documents WHERE doc_id < 200
            ), ex2 AS (
                SELECT doc_id, term FROM ex WHERE length(term) > 0
            ), tfr AS (
                SELECT doc_id, term, count(*) AS tc FROM ex2 GROUP BY doc_id, term
            ), tfn AS (
                SELECT doc_id, term, tc,
                       CAST(tc AS DOUBLE) / sum(tc) OVER (PARTITION BY doc_id) AS tf
                FROM tfr
            ), nd AS (
                -- D = all docs in the corpus slice (docs with no tokens
                -- still count), matching tfidf_top_terms' df.count()
                SELECT CAST(count(*) AS DOUBLE) AS d
                FROM documents WHERE doc_id < 200
            ), idf AS (
                SELECT term, ln((1 + d) / (1 + count(*))) + 1 AS idf
                FROM tfr, nd GROUP BY term, d
            ), sc AS (
                SELECT t.doc_id, t.term, t.tf, i.idf, t.tf * i.idf AS tfidf
                FROM tfn t JOIN idf i USING (term)
            ), rk AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS term_rank
                FROM sc
            )
            SELECT doc_id, term, round(tf, 4) AS tf, round(idf, 4) AS idf,
                   round(tfidf, 4) AS tfidf, term_rank
            FROM rk WHERE term_rank <= 3
            ORDER BY doc_id, term_rank
        """)
def tfidf_docs(spark, sf_dir):
    """Per-doc TF-IDF top terms (keyword extraction): explode -> (doc,term)
    tf shuffle, vocab-sized idf broadcast back, windowed top-3 per doc.
    Same broadcast-the-small-corpus-statistic shape as unigram_lm_docs."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    out = txt.tfidf_top_terms(docs, top_k=3)
    return out.select("doc_id", "term",
                      _r4(F.col("tf")).alias("tf"),
                      _r4(F.col("idf")).alias("idf"),
                      _r4(F.col("tfidf")).alias("tfidf"),
                      "term_rank") \
              .orderBy("doc_id", "term_rank")


@query(oracle="""
            SELECT doc_id,
                   md5(nfc_normalize(replace(text, 'a', 'a' || chr(769))))
                       AS h,
                   length(nfc_normalize(replace(text, 'a', 'a' || chr(769))))
                       AS n_chars
            FROM documents WHERE doc_id < 300
        """)
def unicode_nfc_docs(spark, sf_dir):
    """UAX #15 NFC normalization (text.py normalize_unicode — pandas_udf
    over stdlib unicodedata): the fixture text is ASCII, so the query
    first rewrites 'a' to 'a'+U+0301 (combining acute), then NFC-composes
    — every such pair must fuse to U+00E1. The oracle replays the
    injection and DuckDB's nfc_normalize (same UAX #15 law); comparing
    md5 + length proves composition happened identically byte-for-byte."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    inj = docs.withColumn(
        "text", F.regexp_replace(F.col("text"), "a", "a\u0301"))
    out = txt.normalize_unicode(inj, "text", form="NFC")
    return out.select("doc_id", F.md5(F.col("text")).alias("h"),
                      F.length("text").alias("n_chars"))


@query(oracle="""
            WITH base AS (
                SELECT doc_id,
                       CASE WHEN text IS NULL
                                 OR length(trim(lower(text))) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(trim(lower(text)),
                                                       '\\s+')
                       END AS toks
                FROM documents
            ), proj AS (
                SELECT doc_id, len(toks) AS dl,
                       CAST(len(list_filter(toks, x -> x = 'hash'))
                            AS DOUBLE) AS tf0,
                       CAST(len(list_filter(toks, x -> x = 'join'))
                            AS DOUBLE) AS tf1,
                       CAST(len(list_filter(toks, x -> x = 'merge'))
                            AS DOUBLE) AS tf2,
                       CAST(len(list_filter(toks, x -> x = 'window'))
                            AS DOUBLE) AS tf3
                FROM base
            ), stats AS (
                SELECT count(*) AS n,
                       avg(CASE WHEN dl > 0 THEN dl END) AS avgdl,
                       sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                       sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                       sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
                       sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
                FROM proj
            ), sc AS (
                -- term order and float associativity mirror bm25_search:
                -- parts summed left-to-right over sorted(terms)
                SELECT doc_id,
                       ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0
                         / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                     + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1
                         / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                     + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2
                         / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                     + ln(1 + (n - df3 + 0.5) / (df3 + 0.5)) * tf3
                         / (tf3 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                       AS score
                FROM proj, stats
            )
            SELECT doc_id, round(score * 1e4) / 1e4 AS score
            FROM sc WHERE score > 0
            ORDER BY score DESC, doc_id
        """)
def bm25_search_docs(spark, sf_dir):
    """Okapi BM25 ranked retrieval (text.py bm25_search — the RAG/eval
    lexical-search primitive): query "hash join merge window" against the
    documents corpus. Plan: per-term tf via size(filter(tokens)) in ONE
    codegen projection (the corpus is never exploded for a 4-term query),
    1-row stats aggregate broadcast back, pure-expression score. Lucene
    idf variant; score desc / doc_id asc ordering."""
    docs = _t(spark, sf_dir, "documents")
    out = txt.bm25_search(docs, "hash join merge window", k1=1.2, b=0.75)
    return out.select("doc_id", _r4b(F.col("score")).alias("score")) \
              .orderBy(F.desc("score"), "doc_id")


@query(oracle="""
            WITH d AS (
                SELECT doc_id,
                       text || chr(10) || 'All Rights Reserved Footer'
                            || CASE WHEN doc_id % 2 = 0
                                    THEN chr(10) || 'Cookie Banner Text'
                                    ELSE '' END AS text
                FROM documents
            ), t AS (
                SELECT doc_id, string_split(text, chr(10)) AS ls FROM d
            ), l0 AS (
                -- unnest + generate_subscripts zip positionally in DuckDB
                SELECT doc_id, generate_subscripts(ls, 1) AS pos,
                       unnest(ls) AS ln
                FROM t
            ), lines AS (
                SELECT doc_id, pos, ln, lower(trim(ln)) AS norm FROM l0
            ), nd AS (
                SELECT count(*) AS n FROM d
            ), dfq AS (
                SELECT norm, count(DISTINCT doc_id) AS dfc
                FROM lines WHERE length(norm) >= 1 GROUP BY norm
            ), boiler AS (
                SELECT norm FROM dfq, nd WHERE dfc >= 2 AND dfc > 0.01 * n
            ), kept AS (
                SELECT l.* FROM lines l LEFT JOIN boiler b USING (norm)
                WHERE b.norm IS NULL
            ), rebuilt AS (
                SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text
                FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id, md5(coalesce(r.text, '')) AS clean_md5
            FROM d LEFT JOIN rebuilt r USING (doc_id)
            ORDER BY d.doc_id
        """)
def boilerplate_removal_docs(spark, sf_dir):
    """C4/CCNet-style corpus line dedup (functions/text.py
    remove_boilerplate_lines): a footer line planted on every document
    (and a banner on even ones) must be stripped, per-doc unique lines
    survive; docs reassemble in line order. md5 of the rebuilt text keeps
    the compared payload small."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit("\nAll Rights Reserved Footer"),
                 F.when(F.col("doc_id") % 2 == 0,
                        F.lit("\nCookie Banner Text")).otherwise(F.lit("")))
         .alias("text"))
    out = txt.remove_boilerplate_lines(docs, max_doc_frac=0.01, min_docs=2)
    return out.select("doc_id", F.md5(F.col("text")).alias("clean_md5")) \
              .orderBy("doc_id")


@query(oracle="""
            SELECT doc_id, """ + wt.html_to_text_sql(
            "'<html><head><title>Doc</title><style type=\"text/css\">"
            "p {color:red}' || chr(10) || 'em {x:1}</style>"
            "<script type=\"text/javascript\">if (1 < 2) { "
            "alert(\"x&y\"); }</script></head><body><!-- id ' || "
            "CAST(doc_id AS VARCHAR) || ' --><h1>Header ' || "
            "CAST(doc_id AS VARCHAR) || '</h1><p>' || "
            "replace(text, ' merge ', '</p><p>') || "
            "'</p><br/>Tail &amp;amp; &lt;b&gt;&nbsp;end.</body></html>'"
        ) + """ AS extracted
            FROM documents WHERE doc_id < 300
            ORDER BY doc_id
        """)
def html_extract_docs(spark, sf_dir):
    """HTML -> text extraction (webtext.py html_to_text; the stage before
    every other text operator in a crawl pipeline). Each doc is wrapped in
    a deterministic HTML template exercising every law clause: comment,
    style CONTENT with braces/newline, script CONTENT with a '<' that must
    not terminate tag-stripping, paragraph splits on ' merge ', block
    breaks, double-encoded and named entities. The oracle replays the
    identical fixed-order regex chain under RE2 (webtext.html_to_text_sql
    keeps the two chains adjacent in source)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    html = F.concat(
        F.lit('<html><head><title>Doc</title><style type="text/css">'
              'p {color:red}\nem {x:1}</style>'
              '<script type="text/javascript">if (1 < 2) { '
              'alert("x&y"); }</script></head><body><!-- id '),
        F.col("doc_id").cast("string"),
        F.lit(' --><h1>Header '), F.col("doc_id").cast("string"),
        F.lit('</h1><p>'),
        F.replace(F.col("text"), F.lit(" merge "), F.lit("</p><p>")),
        F.lit('</p><br/>Tail &amp;amp; &lt;b&gt;&nbsp;end.</body></html>'))
    return docs.select("doc_id",
                       wt.html_to_text(html).alias("extracted")) \
               .orderBy("doc_id")


def _structured_doc_text(text):
    """Deterministic prose structure imposed on the flat word-stream
    ``documents`` table (shared by the webtext queries and replayed
    verbatim by their oracles): 8-word sentences with terminal periods,
    grouped into 3-sentence lines joined by newlines."""
    toks = F.split(text, " ")
    n_sent = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    sents = F.transform(
        F.sequence(F.lit(0), n_sent - 1),
        lambda i: F.concat(F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
                           F.lit(".")))
    n_line = F.ceil(F.size(sents) / F.lit(3.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_line - 1),
        lambda j: F.array_join(F.slice(sents, j * 3 + 1, 3), " "))
    return F.array_join(lines, "\n")


@query(oracle="""
            WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
            s AS (
              SELECT doc_id,
                     list_transform(
                       range(0, CAST(ceil(len(string_split(text,' '))/8.0) AS INT)),
                       i -> array_to_string(
                              list_slice(string_split(text,' '), i*8+1, i*8+8),
                              ' ') || '.') AS sents
              FROM d0),
            st AS (
              SELECT doc_id,
                     array_to_string(
                       list_transform(range(0, CAST(ceil(len(sents)/3.0) AS INT)),
                         j -> array_to_string(list_slice(sents, j*3+1, j*3+3), ' ')),
                       chr(10))
                     || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'short line' ELSE '' END
                     || CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
                          'Enable javascript and cookies to continue browsing here.'
                        ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
                          'Note lorem ipsum dolor sit amet consectetur.' ELSE '' END
                     || CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
                          'function f() { return 1; }' ELSE '' END
                     AS text
              FROM s),
            f AS (
              SELECT doc_id, text,
                     coalesce(array_to_string(
                       list_filter(
                         list_transform(string_split(text, chr(10)), x -> trim(x)),
                         l -> length(l) > 0 AND regexp_matches(l, '[.!?"]$')
                              AND len(string_split_regex(l, '\\s+')) >= 5
                              AND NOT contains(lower(l), 'javascript')),
                       chr(10)), '') AS clean
              FROM st)
            SELECT doc_id,
                   len(regexp_extract_all(clean, '[.!?]')) AS c4_n_sentences,
                   len(regexp_extract_all(clean, '[.!?]')) >= 3
                     AND NOT contains(lower(text), 'lorem ipsum')
                     AND NOT contains(text, '{')
                     AND NOT regexp_matches(text, '(?i)\\b(kangaroo|slow)\\b')
                     AS c4_keep,
                   md5(clean) AS clean_md5
            FROM f
            ORDER BY doc_id
        """)
def c4_filter_docs(spark, sf_dir):
    """C4 page/line filter battery (webtext.py c4_filters; Raffel 2020
    §2.2). Structured text plus planted violations: doc_id%7 a short
    unterminated line, %13 a javascript line (line-filtered), %11 lorem
    ipsum and %17 a braced code line (page-killers); badwords
    ('kangaroo','slow') exercise the word-boundary page drop on natural
    corpus words. One projection — no shuffle before the sort."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    perturbed = F.concat(
        _structured_doc_text(F.col("text")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("\nshort line"))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0,
               F.lit("\nEnable javascript and cookies to continue "
                     "browsing here.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit("\nNote lorem ipsum dolor sit amet consectetur."))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0,
               F.lit("\nfunction f() { return 1; }")).otherwise(F.lit("")))
    out = wt.c4_filters(docs.select("doc_id", perturbed.alias("text")),
                        badwords=("kangaroo", "slow"))
    return out.select("doc_id", "c4_n_sentences", "c4_keep",
                      F.md5("c4_text").alias("clean_md5")) \
              .orderBy("doc_id")


@query(oracle="""
            WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
            s0 AS (
              SELECT doc_id,
                     list_transform(
                       range(0, CAST(ceil(len(string_split(text,' '))/8.0) AS INT)),
                       i -> array_to_string(
                              list_slice(string_split(text,' '), i*8+1, i*8+8),
                              ' ') || '.') AS sents
              FROM d0),
            st AS (
              SELECT doc_id,
                     array_to_string(
                       list_transform(range(0, CAST(ceil(len(sents)/3.0) AS INT)),
                         j -> array_to_string(list_slice(sents, j*3+1, j*3+3), ' ')),
                       chr(10)) AS text
              FROM s0),
            d AS (
              SELECT doc_id, text FROM st
              UNION ALL
              SELECT doc_id + 1000, text FROM st WHERE doc_id < 20),
            sent AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(
                         string_split(
                           regexp_replace(text, '([.!?])\\s+', '\\1' || chr(30), 'g'),
                           chr(30)),
                         x -> trim(x)),
                       x -> length(x) > 0) AS s
              FROM d),
            spans AS (
              SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(list_slice(s, i, i + 2), ' ')) AS h
              FROM sent,
                   unnest(range(1, CASE WHEN len(s) >= 3 THEN len(s) - 1
                                        ELSE 1 END)) AS t(i)
              WHERE len(s) >= 3),
            ranked AS (
              SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
              FROM spans),
            rmx AS (
              SELECT doc_id, unnest([pos, pos + 1, pos + 2]) AS ridx
              FROM ranked WHERE rn > 1),
            rm AS (SELECT doc_id, list(DISTINCT ridx) AS rl FROM rmx GROUP BY doc_id)
            SELECT sent.doc_id,
                   md5(coalesce(array_to_string(
                     list_filter(s, (x, i) -> rl IS NULL
                                              OR NOT list_contains(rl, i - 1)),
                     ' '), '')) AS clean_md5
            FROM sent LEFT JOIN rm ON sent.doc_id = rm.doc_id
            ORDER BY sent.doc_id
        """)
def c4_span_dedup_docs(spark, sf_dir):
    """C4 three-sentence-span corpus dedup (webtext.py c4_span_dedup:
    slim (id,pos,md5) exchange + one hash-partitioned window + duplicate-
    bounded removal sets; Raffel 2020 "remove all but one of any
    three-sentence span"). Copies of docs <20 re-keyed +1000 guarantee
    non-canonical spans: every copied span's canonical occurrence is the
    base doc, so copies rebuild empty while base docs are untouched
    (modulo natural template dups inside the slice)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    base = docs.select("doc_id",
                       _structured_doc_text(F.col("text")).alias("text"))
    dup = base.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text")
    out = wt.c4_span_dedup(base.unionByName(dup))
    return out.select("doc_id", F.md5("text").alias("clean_md5")) \
              .orderBy("doc_id")


@query(oracle="""
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS toks
                FROM documents
            ), base AS (
                SELECT doc_id, toks, len(toks) AS n,
                       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                           / len(toks) AS mean_len,
                       CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                            AS DOUBLE) / len(toks) AS alpha_frac,
                       len(list_filter(toks, x -> x IN ('the','a','an','and','or',
                                                        'of','to','in','is','it')))
                           AS sw_hits
                FROM t
            ), bg AS (
                SELECT doc_id, g, count(*) AS c
                FROM (SELECT doc_id,
                             unnest([toks[i] || ' ' || toks[i+1]
                                     FOR i IN range(1, len(toks))]) AS g
                      FROM t WHERE len(toks) >= 2)
                GROUP BY doc_id, g
            ), rep AS (
                SELECT doc_id, max(c) AS topc FROM bg GROUP BY doc_id
            )
            SELECT b.doc_id, b.n AS n_words,
                   b.n BETWEEN 30 AND 100000 AS rule_word_count,
                   b.mean_len BETWEEN 3.0 AND 10.0 AS rule_mean_word_len,
                   b.alpha_frac >= 0.8 AS rule_alpha_words,
                   b.sw_hits >= 2 AS rule_stopwords,
                   round(CASE WHEN b.n <= 1 THEN 0.0
                              ELSE coalesce(r.topc, 0) * 2.0 / b.n END, 4)
                       AS top_bigram_frac,
                   (CASE WHEN b.n <= 1 THEN 0.0
                         ELSE coalesce(r.topc, 0) * 2.0 / b.n END) <= 0.2
                       AS rule_repetition,
                   (b.n BETWEEN 30 AND 100000)
                   AND (b.mean_len BETWEEN 3.0 AND 10.0)
                   AND (b.alpha_frac >= 0.8) AND (b.sw_hits >= 2)
                   AND ((CASE WHEN b.n <= 1 THEN 0.0
                              ELSE coalesce(r.topc, 0) * 2.0 / b.n END) <= 0.2)
                       AS quality_pass
            FROM base b LEFT JOIN rep r USING (doc_id)
            ORDER BY doc_id
        """)
def gopher_quality_docs(spark, sf_dir):
    """Gopher-style quality rules (Rae et al. 2021 A1.1): word-count band,
    mean-word-length band, alpha-word fraction, stopword hits, top-bigram
    repetition — per-rule booleans + overall pass, one scan + one linear
    bigram aggregation."""
    docs = _t(spark, sf_dir, "documents")
    out = txt.gopher_quality(docs, min_words=30)
    return out.select("doc_id", "n_words", "rule_word_count",
                      "rule_mean_word_len", "rule_alpha_words",
                      "rule_stopwords",
                      _r4(F.col("top_bigram_frac")).alias("top_bigram_frac"),
                      "rule_repetition", "quality_pass").orderBy("doc_id")


@query(oracle="""
            WITH t AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                FROM documents
                WHERE doc_id < 50 AND length(trim(text)) > 0
            ), st AS (
                SELECT doc_id, toks,
                       unnest(generate_series(0, greatest(len(toks) - 9, 0), 24))
                           AS start
                FROM t
            )
            SELECT doc_id, CAST(start / 24 AS INT) AS chunk_idx,
                   array_to_string(toks[start + 1 : start + 32], ' ') AS chunk,
                   len(toks[start + 1 : start + 32]) AS n_tokens
            FROM st
            ORDER BY doc_id, chunk_idx
        """)
def chunk_docs(spark, sf_dir):
    """Document chunking for training pipelines (beyond-reference): 32-token
    chunks with 8-token overlap, pure Catalyst split/sequence/posexplode."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return txt.chunk_documents(docs, chunk_size=32, overlap=8) \
              .orderBy("doc_id", "chunk_idx")


@query(oracle=r"""
            WITH tok AS (
              SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                       AS tok
              FROM documents
            ), c AS (
              SELECT tok AS value, count(*) AS count
              FROM tok WHERE len(tok) > 0 GROUP BY tok
            )
            SELECT value, count,
                   row_number() OVER (ORDER BY count DESC, value ASC) AS rank
            FROM c ORDER BY count DESC, value ASC LIMIT 25
        """)
def heavy_tokens_docs(spark, sf_dir):
    """Corpus heavy hitters (text.py heavy_hitters): top-25 most frequent
    tokens. Exact path — groupBy with map-side partials, TakeOrdered k.
    The Misra-Gries bounded-memory path is pytest-pinned against this one
    (mergeable-summaries guarantee)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
         .alias("tok")).filter(F.length("tok") > 0)
    return txt.heavy_hitters(toks, "tok", k=25, method="exact")


@query(oracle=r"""
            WITH RECURSIVE ordered AS (
                SELECT doc_id, lang,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE CAST(length(string_split_regex(
                                trim(text), '\s+')) AS BIGINT) END
                           AS n_tokens,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY doc_id) AS rn
                FROM documents),
            rec AS (
                SELECT lang, rn, doc_id, n_tokens,
                       CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
                FROM ordered WHERE rn = 1
                UNION ALL
                SELECT o.lang, o.rn, o.doc_id, o.n_tokens,
                       CASE WHEN r.fill > 0 AND r.fill + o.n_tokens > 256
                            THEN r.pack_id + 1 ELSE r.pack_id END,
                       CASE WHEN r.fill > 0 AND r.fill + o.n_tokens > 256
                            THEN o.n_tokens ELSE r.fill + o.n_tokens END
                FROM rec r
                JOIN ordered o ON o.lang = r.lang AND o.rn = r.rn + 1)
            SELECT doc_id, lang, n_tokens, pack_id
            FROM rec ORDER BY lang, doc_id
        """)
def pack_docs(spark, sf_dir):
    """Greedy sequence packing (text.py pack_sequences): whitespace token
    counts, packed per language in doc_id order with a 256-token budget.
    Oracle replays the same next-fit recurrence as a recursive CTE."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang",
                    txt.token_count(F.col("text")).cast("long")
                       .alias("n_tokens"))
    out = txt.pack_sequences(d, 256, by="lang", order_by="doc_id")
    return _ckpt_sort(out, "lang", "doc_id")


@query(oracle=r"""
            WITH toks AS (
                SELECT doc_id, lang,
                       list_filter(string_split_regex(lower(trim(text)),
                                                      '\s+'),
                                   t -> len(t) > 0) AS w
                FROM documents),
            cg AS (
                SELECT doc_id,
                       unnest(list_transform(
                           list_filter(range(1, greatest(len(w) - 1, 1) + 1),
                                       i -> i <= len(w) - 1),
                           i -> array_to_string(w[i:i+1], ' '))) AS g
                FROM toks),
            tg AS (
                SELECT cg.g FROM cg
                JOIN toks ON cg.doc_id = toks.doc_id
                WHERE toks.lang = 'en'),
            fc AS (SELECT g, count(*) AS cc FROM cg GROUP BY g),
            ft AS (SELECT g, count(*) AS ct FROM tg GROUP BY g),
            lm AS (
                SELECT coalesce(fc.g, ft.g) AS g,
                       coalesce(cc, 0) AS cc, coalesce(ct, 0) AS ct
                FROM fc FULL OUTER JOIN ft ON fc.g = ft.g),
            tot AS (SELECT sum(cc) AS nc, sum(ct) AS nt,
                           count(*) AS v FROM lm),
            r AS (
                SELECT g, ln((ct + 0.5) / (nt + 0.5 * v))
                          - ln((cc + 0.5) / (nc + 0.5 * v)) AS lr
                FROM lm, tot),
            sc AS (
                SELECT doc_id, sum(lr) AS wsum,
                       count(*) AS n_grams
                FROM cg JOIN r USING (g) GROUP BY doc_id)
            SELECT d.doc_id,
                   round(coalesce(sc.wsum, 0) * 10000) / 10000
                       AS dsir_logweight,
                   coalesce(sc.n_grams, 0) AS n_grams
            FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
            ORDER BY d.doc_id
        """)
def dsir_docs(spark, sf_dir):
    """DSIR importance log-weights (text.py dsir_logweights; Xie et al.
    2023): English docs as the target domain, whole corpus scored by
    bigram LM log-ratio. The oracle replays the two Lidstone LMs and the
    ratio sum closed-form in SQL."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    out = txt.dsir_logweights(docs, target, k=2)
    return out.select("doc_id",
                      _r4b(F.col("dsir_logweight")).alias("dsir_logweight"),
                      "n_grams").orderBy("doc_id")


@query(oracle="""
            WITH tok AS (
                SELECT doc_id, text,
                       CASE WHEN length(trim(text)) = 0 THEN []
                            ELSE regexp_split_to_array(lower(trim(text)), '\\s+')
                       END AS toks,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                       END AS n_tokens
                FROM documents
            ), feat AS (
                SELECT doc_id, n_tokens,
                       CASE WHEN length(text) = 0 THEN 0.0
                            ELSE CAST(length(text) - length(regexp_replace(
                                     text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                                 / length(text) END AS pr,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE CAST(list_sum(list_transform(toks, x -> length(x)))
                                      AS DOUBLE) / len(toks) END AS atl,
                       len(list_filter(toks,
                           x -> x IN ('the','and','of','to','is'))) AS s_en,
                       len(list_filter(toks,
                           x -> x IN ('der','die','und','nicht','das'))) AS s_de,
                       len(list_filter(toks,
                           x -> x IN ('le','la','les','est','une'))) AS s_fr,
                       len(list_filter(toks,
                           x -> x IN ('el','los','que','una','por'))) AS s_es,
                       length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 AS cjk
                FROM tok
            )
            SELECT doc_id,
                   CASE WHEN cjk THEN 'zh'
                        WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
                        WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
                        WHEN s_de > s_en THEN 'de'
                        WHEN s_en > 0 THEN 'en'
                        ELSE 'unknown' END AS lang_pred,
                   round(((CASE WHEN n_tokens BETWEEN 5 AND 100000
                                THEN 1.0 ELSE 0.0 END)
                        + (CASE WHEN pr <= 0.2 THEN 1.0
                                ELSE greatest(0.0, 1.0 - (pr - 0.2) * 4.0) END)
                        + (CASE WHEN atl >= 2.0 AND atl <= 12.0
                                THEN 1.0 ELSE 0.5 END)) / 3.0, 4) AS quality,
                   n_tokens
            FROM feat
        """)
def doc_quality_lang(spark, sf_dir):
    """Language-ID + composite quality score (beyond-reference text
    analysis) — pure Catalyst expressions via the fused single-tokenize
    ``with_quality_lang`` (one split instead of four; 2.5x at sf0.1),
    oracle-replicated in SQL."""
    docs = _t(spark, sf_dir, "documents")
    out = txt.with_quality_lang(docs, "text")
    return out.select("doc_id", "lang_pred",
                      _r4(F.col("quality")).alias("quality"), "n_tokens")


@query(oracle="""
            WITH base AS (
                SELECT doc_id, replace(text, '. ', '.' || chr(10)) AS text
                FROM documents
            ), segs AS (
                SELECT doc_id,
                       list_filter(list_transform(string_split(text, chr(10)),
                                                  x -> trim(x)),
                                   x -> length(x) > 0) AS ls
                FROM base
            ), linestats AS (
                SELECT doc_id, len(ls) AS n_lines,
                       CASE WHEN len(ls) = 0 THEN 0.0
                            ELSE 1.0 - len(list_distinct(ls))::DOUBLE / len(ls)
                       END AS dlf,
                       CASE WHEN COALESCE(list_sum(list_transform(ls, x -> length(x))), 0) = 0
                            THEN 0.0
                            ELSE 1.0 - COALESCE(list_sum(list_transform(
                                     list_distinct(ls), x -> length(x))), 0)::DOUBLE
                                 / list_sum(list_transform(ls, x -> length(x)))
                       END AS dlcf
                FROM segs
            ), toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                   x -> length(x) > 0) AS tk
                FROM base
            ), norm AS (
                SELECT doc_id,
                       CASE WHEN len(tk) = 0 THEN 0
                            ELSE COALESCE(list_sum(list_transform(tk, x -> length(x))), 0)
                                 + len(tk) - 1
                       END AS nc
                FROM toks
            ), grams AS (
                SELECT doc_id, n,
                       unnest(list_transform(range(1, len(tk) - n + 2),
                              i -> array_to_string(tk[i : i + n - 1], ' '))) AS g
                FROM toks, (VALUES (2),(3),(5),(6)) v(n)
            ), counts AS (
                SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY doc_id, n, g
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                             ORDER BY c DESC, g ASC) AS rn
                FROM counts
            ), pern AS (
                SELECT doc_id, n,
                       max(CASE WHEN rn = 1 THEN c * length(g) END) AS topc,
                       sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dupc
                FROM ranked GROUP BY doc_id, n
            )
            SELECT l.doc_id, l.n_lines,
                   round(l.dlf * 1e4) / 1e4 AS dup_line_frac,
                   round(l.dlcf * 1e4) / 1e4 AS dup_line_char_frac,
                   round(CASE WHEN nm.nc = 0 THEN 0.0
                              ELSE least(1.0, COALESCE(p2.topc, 0)::DOUBLE / nm.nc)
                         END * 1e4) / 1e4 AS top_2gram_char_frac,
                   round(CASE WHEN nm.nc = 0 THEN 0.0
                              ELSE least(1.0, COALESCE(p3.topc, 0)::DOUBLE / nm.nc)
                         END * 1e4) / 1e4 AS top_3gram_char_frac,
                   round(CASE WHEN nm.nc = 0 THEN 0.0
                              ELSE least(1.0, COALESCE(p5.dupc, 0)::DOUBLE / nm.nc)
                         END * 1e4) / 1e4 AS dup_5gram_char_frac,
                   round(CASE WHEN nm.nc = 0 THEN 0.0
                              ELSE least(1.0, COALESCE(p6.dupc, 0)::DOUBLE / nm.nc)
                         END * 1e4) / 1e4 AS dup_6gram_char_frac
            FROM linestats l
            JOIN norm nm USING (doc_id)
            LEFT JOIN pern p2 ON p2.doc_id = l.doc_id AND p2.n = 2
            LEFT JOIN pern p3 ON p3.doc_id = l.doc_id AND p3.n = 3
            LEFT JOIN pern p5 ON p5.doc_id = l.doc_id AND p5.n = 5
            LEFT JOIN pern p6 ON p6.doc_id = l.doc_id AND p6.n = 6
            ORDER BY doc_id
        """)
def repetition_signals_docs(spark, sf_dir):
    """Full Gopher repetition battery (Rae et al. 2021 §A1.1 — dup-line /
    dup-line-char / top-n-gram-char / dup-n-gram-char fractions;
    parity-plus: the reference has no repetition operators). The fixture
    corpus is single-line, so the query synthesizes line structure
    deterministically in BOTH engines by breaking sentences onto lines
    ('. ' -> '.\\n') before measuring."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.withColumn(
        "text", F.regexp_replace(F.col("text"), r"\. ", ".\n"))
    out = txt.repetition_signals(docs, top_ngram_ns=(2, 3),
                                 dup_ngram_ns=(5, 6))
    return out.select(
        "doc_id", "n_lines",
        _r4b(F.col("dup_line_frac")).alias("dup_line_frac"),
        _r4b(F.col("dup_line_char_frac")).alias("dup_line_char_frac"),
        _r4b(F.col("top_2gram_char_frac")).alias("top_2gram_char_frac"),
        _r4b(F.col("top_3gram_char_frac")).alias("top_3gram_char_frac"),
        _r4b(F.col("dup_5gram_char_frac")).alias("dup_5gram_char_frac"),
        _r4b(F.col("dup_6gram_char_frac")).alias("dup_6gram_char_frac")) \
        .orderBy("doc_id")


@query(oracle="""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+|\\s+'))
                       AS n_bpe
            FROM documents
        """)
def bpe_tokens_docs(spark, sf_dir):
    """BPE-ish token counting (training-data budget estimation): one
    regexp_count scan, oracle-matched to DuckDB's RE2 on the shared
    lookahead-free pattern."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       txt.token_count_bpe(F.col("text")).alias("n_bpe"))


@query()
def bpe_encode_docs(spark, sf_dir):
    """REAL BPE (Sennrich 2016): train 200 merges on the corpus
    word-frequency table (distributed count, driver merge loop), then the
    greedy-rank subword encode. Rows-only: the iterative merge training
    has no SQL equivalent; the algorithm itself is pinned by hand-computed
    merge sequences in tests/test_functions.py."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    merges = txt.bpe_train(docs, n_merges=200, lowercase=True)
    out = txt.bpe_encode(docs, merges, lowercase=True)
    return out.select("doc_id", F.col("bpe_tokens_n").alias("n_subwords"),
                      F.array_join(F.slice("bpe_tokens", 1, 5), " ")
                       .alias("first_subwords"))


#: Fixed, WELL-ORDERED merge table for the BPE encode oracle twin: every
#: rule that references a merged token ranks after the rule creating it,
#: which makes greedy lowest-rank-first encoding (production _bpe_word)
#: equal to applying each merge to fixpoint in rank order — and THAT is
#: expressible as a nested string-replace chain in SQL. Includes a
#: priority trap: in 'row', (r,o)@8 must beat (o,w)@10, while 'window'
#: still ends in 'ow'.
_BPE_FIXED_MERGES = [
    ("t", "h"), ("th", "e"), ("the", "</w>"),
    ("d", "a"), ("da", "t"), ("dat", "a"), ("data", "</w>"),
    ("r", "o"), ("ro", "w"), ("o", "w"),
    ("s", "l"), ("sl", "ow"),
    ("a", "</w>"),
]


def _bpe_fixed_oracle() -> str:
    """Build the DuckDB replay of bpe_encode over _BPE_FIXED_MERGES:
    per distinct word, ' c1 c2 .. cn </w> ' runs each merge's
    ' l r '->' lr ' replace 6x (fixpoint for any word the corpus holds),
    in rank order; instances rejoin by word and flatten in word order."""
    expr = ("' ' || array_to_string(list_transform(range(1, length(w) + 1), "
            "i -> substring(w, i, 1)), ' ') || ' </w> '")
    for l, r in _BPE_FIXED_MERGES:
        for _ in range(6):
            expr = f"replace({expr}, ' {l} {r} ', ' {l}{r} ')"
    return f"""
        WITH w0 AS (
            SELECT DISTINCT w FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents WHERE doc_id < 300)
            WHERE w <> ''
        ), enc AS (
            SELECT w, string_split(trim({expr}), ' ') AS toks FROM w0
        ), inst AS (
            SELECT doc_id, generate_subscripts(ws, 1) AS pos,
                   unnest(ws) AS w
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
                  FROM documents WHERE doc_id < 300)
        ), per AS (
            SELECT i.doc_id, i.pos, e.toks
            FROM inst i JOIN enc e USING (w) WHERE i.w <> ''
        ), flat AS (
            SELECT doc_id, flatten(list(toks ORDER BY pos)) AS all_toks
            FROM per GROUP BY doc_id
        )
        SELECT doc_id, CAST(len(all_toks) AS BIGINT) AS n_subwords,
               -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
               -- array_join(empty) is '' — align on ''
               coalesce(array_to_string(list_slice(all_toks, 1, 5), ' '),
                        '') AS first_subwords
        FROM flat ORDER BY doc_id
    """


@query(oracle=_bpe_fixed_oracle())
def bpe_encode_oracle_docs(spark, sf_dir):
    """BPE ENCODE with a fixed merge table — the oracle twin that
    promotes the subword encoder (text.py bpe_encode / _bpe_word: greedy
    lowest-rank merging with the per-executor word cache) from
    rows-only to hash-checked; iterative TRAINING remains rows-only by
    design (`bpe_encode_docs` trains its own merges). The oracle
    replays encoding as a rank-ordered fixpoint replace chain over
    space-delimited symbol strings — equivalent to the greedy loop for
    well-ordered tables (no rule can create a lower-ranked pair, since
    new adjacencies always involve the newly-merged token)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300) \
        .select("doc_id", "text")
    out = txt.bpe_encode(docs, _BPE_FIXED_MERGES, lowercase=True)
    # array_join, not a raw array<string>: the driver canonicalizer sorts
    # result columns with pandas, and Python lists are unhashable there.
    return _ckpt_sort(out.select("doc_id",
                      F.col("bpe_tokens_n").cast("long").alias("n_subwords"),
                      F.array_join(F.slice("bpe_tokens", 1, 5), " ")
                       .alias("first_subwords")) \
              , "doc_id")
