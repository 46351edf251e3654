"""Plan inspection: the engine's `.explain` surface as testable predicates.

The reference has no plan layer at all (SURVEY §4 — no optimizer, no IR);
on Spark the physical plan IS the scale contract, so we expose it as
first-class helpers. Used by tests/test_plans.py to pin the properties
that decide 100 TB viability (pushdown, broadcast, partial aggregation,
no accidental Python stages) and available to users for the same audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed (physical) plan as text — what actually runs."""
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    """The Catalyst-optimized logical plan as text."""
    return df._jdf.queryExecution().optimizedPlan().toString()


def skew_report(df: DataFrame, keys, *, top_k: int = 10,
                sample_fraction: float | None = None, seed: int = 42) -> dict:
    """Join/aggregation key-skew diagnostic: per-key share of the (optionally
    sampled) data for the ``top_k`` hottest keys, plus a suggested
    ``salted_join`` salt sized so the hottest key spreads to roughly the
    mean key load.

    One groupBy job (on the sample when ``sample_fraction`` is given — at
    100 TB always sample; shares are ratios, so uniform sampling preserves
    them). Returns ``{"n_rows", "n_keys", "top": [(key_tuple, count,
    share)...], "max_share", "suggested_salt"}`` — feed ``suggested_salt``
    into ``operators.join.salted_join`` when ``max_share`` is material
    (rule of thumb: > a few times 1/parallelism)."""
    from pyspark.sql import functions as F

    key_cols = [keys] if isinstance(keys, str) else list(keys)
    src = df.sample(fraction=sample_fraction, seed=seed) \
        if sample_fraction else df
    counts = (src.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__c__"))
                 .orderBy(F.col("__c__").desc(), *key_cols)
                 .limit(top_k + 1))
    rows = counts.collect()
    agg = src.agg(F.count(F.lit(1)).alias("n"),
                  F.approx_count_distinct(
                      F.concat_ws("\x00", *[F.col(c).cast("string")
                                            for c in key_cols])).alias("k")) \
             .collect()[0]
    n, k = int(agg["n"]), max(1, int(agg["k"]))
    top = [(tuple(r[c] for c in key_cols), int(r["__c__"]),
            (r["__c__"] / n) if n else 0.0) for r in rows[:top_k]]
    max_share = top[0][2] if top else 0.0
    mean_load = n / k
    hot = top[0][1] if top else 0
    suggested = 1 if mean_load <= 0 or hot <= mean_load \
        else min(256, max(1, round(hot / mean_load)))
    return {"n_rows": n, "n_keys": k, "top": top,
            "max_share": max_share, "suggested_salt": int(suggested)}


def plan_digest(df: DataFrame) -> dict:
    """One-glance physical-plan audit for users: counts of scans,
    shuffles, broadcast/sort-merge joins, nested-loop/cartesian joins
    (the 100 TB red flag), Python stages, and whole-stage-codegen spans.
    The same predicates the plan test suite pins, packaged for
    interactive `explain`-style checks."""
    plan = physical_plan(df)
    def count(token):
        return plan.count(token)
    return {
        "scans": count("FileScan") + count("BatchScan"),
        "exchanges": count("Exchange"),
        "broadcast_joins": count("BroadcastHashJoin"),
        "sort_merge_joins": count("SortMergeJoin"),
        "shuffled_hash_joins": count("ShuffledHashJoin"),
        "nested_loop_or_cartesian": count("BroadcastNestedLoopJoin")
                                    + count("CartesianProduct"),
        "python_stages": count("ArrowEvalPython") + count("MapInPandas")
                         + count("FlatMapGroupsInPandas")
                         + count("BatchEvalPython"),
        # '*(n)' marks WholeStageCodegen spans in the compact plan string
        # (AQE inserts them at execution — run an action first for the
        # final count); "WholeStageCodegen" appears only in formatted mode
        "codegen_spans": len(set(__import__("re").findall(r"\*\((\d+)\)", plan))),
    }
