"""Streaming queries: event-time windows and micro-batch sinks driven by a
loop over fixed batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from registry import _r4, _r4b, _scratch_dir, _t, query
from tech_ml_dataset_spark.streaming import windows as sw


@query(oracle="""
            -- accept law: each text class survives once, at its min
            -- doc_id (earliest batch + exact_dedup min-id survivor)
            SELECT doc_id, 'txt ' || (doc_id % 45) AS text,
                   CAST(doc_id // 50 AS BIGINT) AS batch_id
            FROM (
                SELECT doc_id,
                       row_number() OVER (PARTITION BY doc_id % 45
                                          ORDER BY doc_id) AS rn
                FROM documents WHERE doc_id < 200
            ) WHERE rn = 1
            ORDER BY doc_id
        """)
def streaming_text_dedup_replay_docs(spark, sf_dir):
    """The crawl text-dedup sink in the oracle gate: a loop calls
    streaming/windows.py's text_dedup_batch_apply — the exact
    foreachBatch body, incl. the exact incremental_dedup history pass
    (semi + anti join on md5 fingerprints) — at fixed boundaries
    (batch = doc_id // 50 over doc_id < 200) with a colliding text law
    ('txt ' || doc_id % 45). Accept law closed form: each distinct text
    accepted exactly once, in its earliest batch, by the exact_dedup
    min-id survivor — since batch index grows with doc_id, that is
    simply the minimum doc_id of the class."""

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200) \
        .select("doc_id",
                F.concat(F.lit("txt "),
                         (F.col("doc_id") % 45).cast("string"))
                 .alias("text"))
    batches = [docs.filter((F.col("doc_id") >= i * 50)
                           & (F.col("doc_id") < (i + 1) * 50))
               for i in range(4)]
    d = _scratch_dir("spark_graft_txtdedup_")
    for i, b in enumerate(batches):
        sw.text_dedup_batch_apply(b, i, d)
    out = spark.read.parquet(d)
    return out.select("doc_id", "text",
                      F.col("batch_id").cast("long").alias("batch_id")) \
              .orderBy("doc_id")


@query(oracle="""
            -- closed form of the CDC merge law: even keys last written
            -- by batch 2 (val = price*3), odd keys by batch 1 (price*2)
            SELECT o_orderkey,
                   round(o_totalprice
                         * (CASE WHEN o_orderkey % 2 = 0
                                 THEN 3 ELSE 2 END)
                         * 10000) / 10000 AS val,
                   CAST(CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 1 END
                        AS BIGINT) AS last_batch
            FROM orders WHERE o_orderkey < 600
            ORDER BY o_orderkey
        """)
def streaming_upsert_replay_orders(spark, sf_dir):
    """The streaming CDC upsert sink in the oracle gate: a loop calls
    streaming/windows.py's upsert_batch_apply — the exact function the
    production sink's foreachBatch invokes — at FIXED batch boundaries.
    Three change batches over the orders slice: batch b carries keys
    with o_orderkey ≡ b (mod 2) and value o_totalprice*(b+1), so even
    keys are written in batches 0 and 2 (last write wins → x3) and odd
    keys only in batch 1 (→ x2) — a closed-form merge law the oracle
    replays, proving the copy-on-write MERGE (update + insert arms, the
    two-rename swap) end-to-end across batches."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 600) \
        .select("o_orderkey", "o_totalprice")
    batches = [
        o.filter((F.col("o_orderkey") + b) % 2 == 0)
         .select("o_orderkey",
                 (F.col("o_totalprice") * (b + 1)).alias("val"),
                 F.lit(b).alias("seq"))
        for b in range(3)
    ]
    d = _scratch_dir("spark_graft_upsert_")
    target = d + "/target"
    for i, b in enumerate(batches):
        sw.upsert_batch_apply(b, target, "o_orderkey", sequence_by="seq",
                              batch_id=i)
    back = spark.read.parquet(target)
    return back.select("o_orderkey", _r4b(F.col("val")).alias("val"),
                       F.col("seq").cast("long").alias("last_batch")) \
               .orderBy("o_orderkey")


@query(oracle="""
            -- closed form of the streaming fingerprint-dedup accept law
            -- at distance 0: each fingerprint accepted exactly once, in
            -- its earliest batch (earliest survivor enters the corpus
            -- and blocks later arrivals), by the lowest id within that
            -- batch (greedy within-batch pair dedup keeps the min id)
            SELECT doc_id, fp, batch_id FROM (
                SELECT doc_id,
                       CAST(doc_id % 37 AS BIGINT) AS fp,
                       CAST(doc_id // 50 AS BIGINT) AS batch_id,
                       row_number() OVER (
                           PARTITION BY doc_id % 37
                           ORDER BY doc_id // 50, doc_id) AS rn
                FROM documents WHERE doc_id < 200
            ) WHERE rn = 1
            ORDER BY doc_id
        """)
def streaming_fp_dedup_replay_docs(spark, sf_dir):
    """The streaming media-dedup sink in the oracle gate: a loop calls
    streaming/windows.py's fingerprint_dedup_batch_apply — the exact
    function the production sink's foreachBatch invokes — at FIXED
    micro-batch boundaries (batch = doc_id // 50, four batches of
    the doc_id < 200 slice), with a colliding deterministic fingerprint
    law fp = doc_id % 37 (distance-0 exact matching). The sink's accept
    law then has a closed form the oracle replays: each fingerprint is
    accepted exactly once — in its earliest batch, by the lowest id
    within that batch — because the earliest batch's survivor enters the
    corpus and Hamming-blocks every later arrival, while within a batch
    the greedy banded-pair dedup keeps the minimum id per fingerprint.
    The production streaming arm (real readStream + foreachBatch +
    at-least-once replay idempotency) keeps its e2e pytest evidence —
    the same two-arm pattern as :abb and the reservoir."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200) \
        .select("doc_id", (F.col("doc_id") % 37).cast("long").alias("fp"))
    batches = [docs.filter((F.col("doc_id") >= i * 50)
                           & (F.col("doc_id") < (i + 1) * 50))
               for i in range(4)]
    path = _scratch_dir("spark_graft_stream_fp_")
    for i, b in enumerate(batches):
        sw.fingerprint_dedup_batch_apply(b, i, path, fp_col="fp")
    out = spark.read.parquet(path)
    return out.select("doc_id", "fp",
                      F.col("batch_id").cast("long").alias("batch_id")) \
              .orderBy("doc_id")


@query(oracle="""
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1
        """)
def tumbling_events_daily(spark, sf_dir):
    """Tumbling event-time windows (streaming surface, batch-checked)."""
    ev = _t(spark, sf_dir, "events")
    out = sw.tumbling_window_agg(ev, "ts", "1 day",
                                 {"n": ("row-count", None), "sum_value": ("sum", "value")})
    return out.withColumn("sum_value", _r4(F.col("sum_value"))) \
              .orderBy("window_start")


@query(oracle="""
            WITH gaps AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), tagged AS (
                SELECT user_id, ts, value,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS sess
                FROM gaps
            )
            SELECT min(ts) AS window_start,
                   max(ts) + INTERVAL 30 MINUTE AS window_end,
                   user_id, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM tagged GROUP BY user_id, sess
        """)
def session_window_events(spark, sf_dir):
    """Session windows (30-min gap) via F.session_window, per user."""
    ev = _t(spark, sf_dir, "events")
    out = sw.session_window_agg(ev, "ts", "30 minutes",
                                {"n": ("row-count", None),
                                 "sum_value": ("sum", "value")}, by=["user_id"])
    return out.withColumn("sum_value", _r4(F.col("sum_value")))


@query(oracle="""
            WITH expanded AS (
                SELECT make_timestamp(CAST(((floor(epoch(ts) / 43200) - k) * 43200)
                                           * 1000000 AS BIGINT)) AS window_start,
                       value
                FROM events, unnest([0, 1]) AS t(k)
            )
            SELECT window_start,
                   window_start + INTERVAL 1 DAY AS window_end,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM expanded
            GROUP BY window_start
        """)
def sliding_events_12h(spark, sf_dir):
    """Sliding event-time windows (streaming surface, batch-checked):
    1-day windows advancing every 12h — each event lands in 2 windows."""
    ev = _t(spark, sf_dir, "events")
    return sw.sliding_window_agg(ev, "ts", "1 day", "12 hours",
                                 {"n": ("row-count", None),
                                  "sum_value": lambda F: F.round(F.sum("value"), 4)})
