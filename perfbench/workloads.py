"""The benchmark's workloads: which operations each one runs, on which
tables, and which module family each operation mainly exercises.

An operation is one timed unit:
- ``query``: a ``__spark_entry__.queries()`` builder call followed by a
  noop write;
- ``upsert`` / ``dedup``: one micro-batch through
  ``streaming.windows.upsert_batch_apply`` / ``text_dedup_batch_apply``;
- ``ingest``: one gzip TSV read with schema inference through
  ``sources.io.to_dataset``, followed by a noop write.

The format round-trip queries write through the ``sources.io`` writers
inside their builder call and read the files back.

The registry has no family tag, so the map lives here."""

from __future__ import annotations

from dataclasses import dataclass

FAMILIES = ("operators", "ml", "functions.text", "functions.dedup",
            "functions.similarity", "functions.multimodal", "sources",
            "streaming")


@dataclass(frozen=True)
class Op:
    name: str
    family: str
    kind: str = "query"
    data: str = "base"  # table set: "base", or "x10" for the sink target


def _queries(data: str, family: str, names: str) -> list[Op]:
    return [Op(n, family, "query", data) for n in names.split()]


WORKLOADS: dict[str, list[Op]] = {
    # interactive dataframe use on small tables: overhead-bound, so driver,
    # planner and job-count changes show here
    "relational": (
        _queries("base", "operators",
                 "q1_pricing_summary q3_segment_revenue q18_large_orders "
                 "filter_project rolling_user_value asof_purchase_click "
                 "ffill_events pivot_status_priority lineitem_except "
                 "validate_orders")
        + _queries("base", "ml", "std_scale_acctbal")),
    # text, dedup, similarity and media-decode queries beside the sinks and
    # format round-trips that write: the only workload with Python (Arrow)
    # stages, eager jobs at build time and writes
    "llm_data_sinks": (
        _queries("base", "functions.text", "tfidf_docs")
        + _queries("base", "functions.dedup", "dedup_exact_docs")
        + _queries("base", "functions.similarity", "cosine_topk_embeddings")
        + _queries("base", "functions.multimodal", "pdf_extract_docs")
        + _queries("base", "sources",
                   "parquet_roundtrip_lineitem csv_roundtrip_orders "
                   "orc_roundtrip_orders avro_roundtrip_orders")
        + [Op("upsert_orders_batch", "streaming", "upsert", "x10"),
           Op("text_dedup_batch", "streaming", "dedup"),
           Op("tsv_ingest_lineitem", "sources", "ingest")]),
}
