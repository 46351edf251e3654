"""Dataset — thin TMD-shaped wrapper over a pyspark DataFrame.

The reference Dataset is an immutable column-major map
(src/tech/v3/dataset/impl/dataset.clj:137-465). Here it wraps an immutable
``pyspark.sql.DataFrame``; every method delegates to the functional operator
modules, so the wrapper adds ergonomics, never semantics. Users who prefer
plain DataFrames can use the operator functions directly.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame

from .dtutil import materialize
from .operators import aggregate as _agg
from .operators import join as _join
from .operators import missing as _missing
from .operators import selection as _sel
from .operators import setops as _set
from .operators import window as _win
from .sources import io as _io


def _unwrap(x):
    return x.df if isinstance(x, Dataset) else x


class Dataset:
    """Immutable dataset: every operation returns a new Dataset."""

    def __init__(self, df: DataFrame, name: str = "_unnamed"):
        self.df = df
        self.name = name

    # ---- metadata / shape ------------------------------------------------
    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def column_count(self) -> int:
        return len(self.df.columns)

    def row_count(self) -> int:
        """Eager count (an action, like the reference's ds/row-count)."""
        return self.df.count()

    def dtypes(self) -> dict[str, str]:
        return dict(self.df.dtypes)

    def _wrap(self, df: DataFrame, name: str | None = None) -> "Dataset":
        return Dataset(df, name or self.name)

    # ---- rows out --------------------------------------------------------
    def rows(self, n: int | None = None) -> list[dict]:
        """Row-maps (reference rows view, impl/dataset.clj:369-419).
        An action: collects to the driver — use only on small results."""
        df = self.df.limit(n) if n is not None else self.df
        return [r.asDict(recursive=True) for r in df.collect()]

    def rowvecs(self, n: int | None = None) -> list[tuple]:
        df = self.df.limit(n) if n is not None else self.df
        return [tuple(r) for r in df.collect()]

    def to_pandas(self):
        return self.df.toPandas()

    # ---- selection / projection -----------------------------------------
    def select_columns(self, cols):
        return self._wrap(_sel.select_columns(self.df, cols))

    def drop_columns(self, cols):
        return self._wrap(_sel.drop_columns(self.df, cols))

    def rename_columns(self, mapping: Mapping[str, str]):
        return self._wrap(_sel.rename_columns(self.df, mapping))

    def add_or_update_column(self, name, col):
        return self._wrap(_sel.add_or_update_column(self.df, name, col))

    assoc = add_or_update_column

    def update_column(self, name, fn):
        return self._wrap(_sel.update_column(self.df, name, fn))

    def order_column_names(self, names):
        return self._wrap(_sel.order_column_names(self.df, names))

    # ---- filter / rows ----------------------------------------------------
    def filter(self, pred):
        return self._wrap(_sel.filter_rows(self.df, pred))

    def filter_column(self, colname, pred=None):
        return self._wrap(_sel.filter_column(self.df, colname, pred))

    def head(self, n: int = 5):
        return self._wrap(_sel.head(self.df, n))

    def tail(self, n: int = 5, order_by=None):
        return self._wrap(_sel.tail(self.df, n, order_by=order_by))

    def sample(self, n=None, **kw):
        return self._wrap(_sel.sample(self.df, n, **kw))

    def shuffle(self, seed=None):
        return self._wrap(_sel.shuffle(self.df, seed))

    def select_rows(self, indexes, order_by=None):
        return self._wrap(_sel.select_rows(self.df, indexes, order_by=order_by))

    def drop_rows(self, indexes, order_by=None):
        return self._wrap(_sel.drop_rows(self.df, indexes, order_by=order_by))

    def select_columns_by_index(self, indexes):
        return self._wrap(_sel.select_columns_by_index(self.df, indexes))

    def select(self, columns=None, row_indexes=None, order_by=None):
        """Subrect selection in one call (reference ``select``,
        dataset_api.clj / quick-reference "Selecting Subrects"): a column
        subset AND a row-index subset together. Either side may be None
        (= keep all). Column pruning happens FIRST so the row-index window
        never carries dropped columns through the shuffle — unless
        ``order_by`` names a column outside the subset, in which case row
        selection runs first (Catalyst still prunes the scan to the subset
        + the ordering column; dropping it first would raise
        UNRESOLVED_COLUMN on a perfectly sensible subrect call)."""
        df = self.df
        if order_by is None:
            ob_names = []
        elif isinstance(order_by, str):
            ob_names = [order_by]
        elif isinstance(order_by, (list, tuple)) and \
                all(isinstance(c, str) for c in order_by):
            ob_names = list(order_by)
        else:
            ob_names = None  # Column expressions: can't prove containment
        prune_first = columns is not None and ob_names is not None and \
            all(c in set(columns) for c in ob_names)
        if prune_first:
            df = _sel.select_columns(df, columns)
        if row_indexes is not None:
            df = _sel.select_rows(df, row_indexes, order_by=order_by)
        if columns is not None and not prune_first:
            df = _sel.select_columns(df, columns)
        return self._wrap(df)

    def rand_nth(self, seed=None):
        """One random row as a dict (reference ``rand-nth`` over rows).
        An action; sampling happens executor-side (TABLESAMPLE-style
        fraction push), only the single winner crosses to the driver."""
        rows = _sel.sample(self.df, 1, seed=seed).collect()
        return rows[0].asDict(recursive=True) if rows else None

    def min_n_by_column(self, colname, n, desc=False):
        return self._wrap(_sel.min_n_by_column(self.df, colname, n, desc=desc))

    # ---- missing ----------------------------------------------------------
    def missing(self):
        return self._wrap(_missing.missing_count(self.df))

    def drop_missing(self, columns=None):
        return self._wrap(_missing.drop_missing(self.df, columns))

    def select_missing(self, columns=None):
        return self._wrap(_missing.select_missing(self.df, columns))

    def replace_missing(self, columns=None, strategy="mid", value=None, **kw):
        return self._wrap(_missing.replace_missing(self.df, columns, strategy, value, **kw))

    # ---- aggregation -------------------------------------------------------
    def group_by_column_agg(self, key, aggs, **kw):
        return self._wrap(_agg.group_by_column_agg(self.df, key, aggs, **kw))

    def aggregate(self, aggs):
        return self._wrap(_agg.aggregate(self.df, aggs))

    def descriptive_stats(self, columns=None, **kw):
        return self._wrap(_agg.descriptive_stats(self.df, columns, **kw))

    def brief(self):
        return _agg.brief(self.df)

    # ---- joins --------------------------------------------------------------
    def inner_join(self, other, on, **kw):
        return self._wrap(_join.inner_join(self.df, _unwrap(other), on, **kw))

    def left_join(self, other, on, **kw):
        return self._wrap(_join.left_join(self.df, _unwrap(other), on, **kw))

    def right_join(self, other, on, **kw):
        return self._wrap(_join.right_join(self.df, _unwrap(other), on, **kw))

    def semi_join(self, other, on, **kw):
        return self._wrap(_join.semi_join(self.df, _unwrap(other), on, **kw))

    def anti_join(self, other, on, **kw):
        return self._wrap(_join.anti_join(self.df, _unwrap(other), on, **kw))

    def cross_join(self, other, **kw):
        return self._wrap(_join.cross_join(self.df, _unwrap(other), **kw))

    def pd_merge(self, other, **kw):
        return self._wrap(_join.pd_merge(self.df, _unwrap(other), **kw))

    def left_join_asof(self, other, on, **kw):
        return self._wrap(_join.left_join_asof(self.df, _unwrap(other), on, **kw))

    def range_join(self, other, point_col, lo_col, hi_col, **kw):
        return self._wrap(_join.range_join(self.df, _unwrap(other),
                                           point_col, lo_col, hi_col, **kw))

    def salted_join(self, other, on, how="inner", **kw):
        return self._wrap(_join.salted_join(self.df, _unwrap(other), on, how, **kw))

    # ---- sort / distinct / set ops -----------------------------------------
    def sort_by_column(self, colname, **kw):
        return self._wrap(_set.sort_by_column(self.df, colname, **kw))

    def sort_by(self, *cols):
        return self._wrap(_set.sort_by(self.df, *cols))

    def unique_by_column(self, colname, **kw):
        return self._wrap(_set.unique_by_column(self.df, colname, **kw))

    def distinct(self):
        return self._wrap(_set.distinct(self.df))

    def concat(self, *others):
        return self._wrap(_set.concat(self.df, *[_unwrap(o) for o in others]))

    def union(self, other):
        return self._wrap(_set.union(self.df, _unwrap(other)))

    def intersection(self, other):
        return self._wrap(_set.intersection(self.df, _unwrap(other)))

    def difference(self, other):
        return self._wrap(_set.difference(self.df, _unwrap(other)))

    def diff(self, other):
        return self._wrap(_set.dataset_diff(self.df, _unwrap(other)))

    def equals_bag(self, other) -> bool:
        return _set.datasets_equal(self.df, _unwrap(other))

    # ---- windows -------------------------------------------------------------
    def rolling(self, order_by, specs, **kw):
        return self._wrap(_win.rolling(self.df, order_by, specs, **kw))

    def rolling_range(self, order_by, specs, **kw):
        return self._wrap(_win.rolling_range(self.df, order_by, specs, **kw))

    def expanding(self, order_by, specs, **kw):
        return self._wrap(_win.expanding(self.df, order_by, specs, **kw))

    def with_analytic(self, order_by, exprs, **kw):
        return self._wrap(_win.with_analytic(self.df, order_by, exprs, **kw))

    def rolling_udf(self, order_by, specs, **kw):
        return self._wrap(_win.rolling_udf(self.df, order_by, specs, **kw))

    def fill_range_replace(self, axis_col, max_span, **kw):
        from .operators import timeseries as _tss
        return self._wrap(_tss.fill_range_replace(self.df, axis_col, max_span, **kw))

    # ---- small-API conveniences (dataset_api.clj) ---------------------------
    def shape(self):
        return _sel.shape(self.df)

    def row_at(self, idx, order_by=None):
        return _sel.row_at(self.df, idx, order_by=order_by)

    def rowvec_at(self, idx, order_by=None):
        return _sel.rowvec_at(self.df, idx, order_by=order_by)

    def empty_column_names(self):
        return _sel.empty_column_names(self.df)

    def remove_empty_columns(self):
        return self._wrap(_sel.remove_empty_columns(self.df))

    def append_columns(self, other, **kw):
        return self._wrap(_sel.append_columns(self.df, _unwrap(other), **kw))

    def assoc_metadata(self, kind_or_cols, **kv):
        from .operators import colmap as _cm
        return self._wrap(_cm.assoc_metadata(self.df, kind_or_cols, **kv))

    def column_metadata(self, col):
        from .operators import colmap as _cm
        return _cm.column_metadata(self.df, col)

    def column_to_dataset(self, col, transform_fn=None, *, schema=None):
        from .operators import colmap as _cm
        return self._wrap(_cm.column_to_dataset(self.df, col, transform_fn,
                                                schema=schema))

    # ---- positional ----------------------------------------------------------
    def take_nth(self, n, order_by=None):
        return self._wrap(_sel.take_nth(self.df, n, order_by=order_by))

    def reverse_rows(self, order_by=None):
        return self._wrap(_sel.reverse_rows(self.df, order_by=order_by))

    # ---- LLM-pipeline --------------------------------------------------------
    def exact_dedup(self, text_col="text", id_col="doc_id", **kw):
        from .functions import dedup as _dd
        return self._wrap(_dd.exact_dedup(self.df, text_col, id_col, **kw))

    def minhash_dedup(self, id_col="doc_id", text_col="text", **kw):
        from .functions import dedup as _dd
        return self._wrap(_dd.minhash_dedup(self.df, id_col, text_col, **kw))

    def winnow_dedup_pairs(self, id_col="doc_id", text_col="text", **kw):
        from .functions import dedup as _dd
        return self._wrap(_dd.winnow_dedup_pairs(self.df, id_col, text_col, **kw))

    def chunk_documents(self, text_col="text", id_col="doc_id", **kw):
        from .functions import text as _txt
        return self._wrap(_txt.chunk_documents(self.df, text_col, id_col, **kw))

    def gopher_quality(self, text_col="text", id_col="doc_id", **kw):
        from .functions import text as _txt
        return self._wrap(_txt.gopher_quality(self.df, text_col, id_col, **kw))

    def repetition_signals(self, text_col="text", id_col="doc_id", **kw):
        from .functions import text as _txt
        return self._wrap(_txt.repetition_signals(self.df, text_col, id_col,
                                                  **kw))

    def psi_drift(self, current, columns, **kw):
        """Drift of ``current`` (Dataset or DataFrame) vs self as reference."""
        from .operators import validate as _dv
        cur = current.df if isinstance(current, Dataset) else current
        return _dv.psi_drift(self.df, cur, columns, **kw)

    def psi_drift_categorical(self, current, columns, **kw):
        from .operators import validate as _dv
        cur = current.df if isinstance(current, Dataset) else current
        return _dv.psi_drift_categorical(self.df, cur, columns, **kw)

    def ccnet_buckets(self, text_col="text", id_col="doc_id", **kw):
        from .functions import text as _txt
        return self._wrap(_txt.ccnet_buckets(self.df, text_col, id_col, **kw))

    def filter_funnel(self, rules, **kw):
        from .functions import text as _txt
        out, report = _txt.filter_funnel(self.df, rules, **kw)
        return self._wrap(out), report

    def dataset_card(self, text_col="text", **kw):
        from .functions import text as _txt
        return _txt.dataset_card(self.df, text_col, **kw)

    def bpe_train(self, text_col="text", **kw):
        from .functions import text as _txt
        return _txt.bpe_train(self.df, text_col, **kw)

    def bpe_encode(self, merges, text_col="text", **kw):
        from .functions import text as _txt
        return self._wrap(_txt.bpe_encode(self.df, merges, text_col, **kw))

    def unigram_logprob_score(self, text_col="text", id_col="doc_id", **kw):
        from .functions import text as _txt
        return self._wrap(_txt.unigram_logprob_score(self.df, text_col, id_col, **kw))

    def embedding_dedup_pairs(self, vec_col="embedding", id_col="vec_id", **kw):
        from .functions import similarity as _sim
        return self._wrap(_sim.embedding_dedup_pairs(self.df, vec_col, id_col, **kw))

    def semdedup(self, vec_col="embedding", id_col="vec_id", **kw):
        from .functions import similarity as _sim
        return self._wrap(_sim.semdedup(self.df, vec_col, id_col, **kw))

    def embedding_dedup_incremental(self, historical, vec_col="embedding",
                                    id_col="vec_id", **kw):
        from .functions import similarity as _sim
        return self._wrap(_sim.embedding_dedup_incremental(
            self.df, _unwrap(historical), vec_col, id_col, **kw))

    def tfidf_top_terms(self, text_col="text", id_col="doc_id", **kw):
        from .functions import text as _txt
        return self._wrap(_txt.tfidf_top_terms(self.df, text_col, id_col, **kw))

    def bm25_search(self, query, text_col="text", id_col="doc_id", **kw):
        from .functions import text as _txt
        return self._wrap(_txt.bm25_search(self.df, query, text_col,
                                           id_col, **kw))

    def normalize_unicode(self, text_col="text", **kw):
        from .functions import text as _txt
        return self._wrap(_txt.normalize_unicode(self.df, text_col, **kw))

    def remove_boilerplate_lines(self, text_col="text", id_col="doc_id", **kw):
        from .functions import text as _txt
        return self._wrap(_txt.remove_boilerplate_lines(
            self.df, text_col, id_col, **kw))

    def decontaminate(self, benchmark, id_col="doc_id", text_col="text", **kw):
        from .functions import dedup as _dd
        return self._wrap(_dd.decontaminate(self.df, _unwrap(benchmark),
                                            id_col, text_col, **kw))

    def similarity_join(self, right, text_col="text", **kw):
        from .functions import dedup as _dd
        return self._wrap(_dd.similarity_join(self.df, _unwrap(right),
                                              text_col, **kw))

    def fuzzy_join(self, right, text_col="text", **kw):
        from .functions import dedup as _dd
        return self._wrap(_dd.fuzzy_join(self.df, _unwrap(right),
                                         text_col, **kw))

    def fuzzy_dedup_pairs(self, text_col="text", id_col="doc_id", **kw):
        from .functions import dedup as _dd
        return self._wrap(_dd.fuzzy_dedup_pairs(self.df, text_col,
                                                id_col, **kw))

    def heavy_hitters(self, col, **kw):
        from .functions import text as _txt
        return self._wrap(_txt.heavy_hitters(self.df, col, **kw))

    def incremental_dedup(self, historical, text_col="text"):
        from .functions import dedup as _dd
        return self._wrap(_dd.incremental_dedup(self.df, _unwrap(historical),
                                                text_col))

    def pack_sequences(self, budget, *, by, order_by, **kw):
        from .functions import text as _txt
        return self._wrap(_txt.pack_sequences(self.df, budget, by=by,
                                              order_by=order_by, **kw))

    def dsir_logweights(self, target, text_col="text", id_col="doc_id",
                        **kw):
        from .functions import text as _txt
        return self._wrap(_txt.dsir_logweights(self.df, _unwrap(target),
                                               text_col, id_col, **kw))

    def weighted_sample_topk(self, logweight_col, n, **kw):
        from .functions import text as _txt
        return self._wrap(_txt.weighted_sample_topk(self.df, logweight_col,
                                                    n, **kw))

    def audio_features(self, bin_col, **kw):
        from .functions import multimodal as _mm
        return self._wrap(_mm.audio_features(self.df, bin_col, **kw))

    def score_quality(self, trained, **kw):
        from .functions import text as _txt
        return self._wrap(_txt.score_quality(self.df, trained, **kw))

    def validate(self, rules):
        from .operators import validate as _dv
        return self._wrap(_dv.validate(self.df, rules))

    def expect(self, rules):
        from .operators import validate as _dv
        _dv.expect(self.df, rules)
        return self

    def write_training_shards(self, path, *, n_shards, order_by, **kw):
        from .sources.io import write_training_shards as _wts
        return _wts(self.df, path, n_shards=n_shards, order_by=order_by,
                    **kw)

    # ---- io ---------------------------------------------------------------------
    def write(self, path, **kw):
        _io.write(self.df, path, **kw)

    # ---- lineage / materialization ----------------------------------------
    def clone(self):
        """Reference ``clone`` (quick-reference "Forcing Lazy Evaluation"):
        realize every pending lazy transformation and return a dataset
        whose reads no longer re-run the producing computation. The Spark
        analog is an eager local checkpoint (:func:`dtutil.materialize`):
        the plan executes ONCE, partitions persist executor-side (no driver
        collect), and the returned dataset's lineage is truncated to the
        stored blocks — downstream iterative reuse (the reference's
        motivating case) reads blocks instead of replaying the plan. A
        lost executor's blocks are not recomputed: the reading job
        fails."""
        return self._wrap(materialize(self.df))

    # ---- display -------------------------------------------------------------------
    def show(self, n: int = 20, truncate: bool = True):
        self.df.show(n, truncate)

    def print_all(self):
        """Reference ``print-all`` (print.clj): print every row, overriding
        the abbreviated default. An action — drives the whole result to the
        driver for display; meant for small/aggregated tables."""
        self.df.show(self.df.count(), truncate=False)

    def to_string(self, **kw) -> str:
        return dataset_to_str(self.df, name=self.name, **kw)

    def __repr__(self):
        cols = ", ".join(f"{c}:{t}" for c, t in self.df.dtypes[:8])
        more = " ..." if len(self.df.columns) > 8 else ""
        return f"<Dataset {self.name} [{cols}{more}]>"


def dataset_to_str(df: DataFrame, *, name: str = "_unnamed", n: int = 20,
                   print_index_range=None, print_types: bool = False,
                   print_width: int = 25, new_number_format: bool = True,
                   maximum_precision: int = 8) -> str:
    """``dataset->str`` (reference src/tech/v3/dataset/print.clj:319,343):
    the markdown-style table the reference prints, with ``:print-index-range``
    (slice of rows), ``:print-types`` (dtype header row) and per-cell width
    truncation. Float/double columns render through the fitted
    ``format_sequence`` law (print.clj:52-58) unless ``new_number_format``
    is False. Collects only the printed slice (limit-pushdown, never the
    table)."""
    if print_index_range is not None:
        lo, hi = print_index_range
        rows = df.limit(hi).collect()[lo:hi]
        shown = len(rows)
    else:
        rows = df.limit(n + 1).collect()
        shown = min(len(rows), n)
        rows = rows[:n]
    cols = df.columns
    dts = dict(df.dtypes)

    def cell(v):
        s = "" if v is None else str(v)
        return s if len(s) <= print_width else s[: print_width - 3] + "..."

    header = [cols]
    if print_types:
        header.append([dts[c] for c in cols])
    body = [[cell(r[c]) for c in cols] for r in rows]
    if new_number_format and rows:
        from .functions.format_sequence import format_sequence
        import numpy as _np
        for i, c in enumerate(cols):
            if dts[c] in ("float", "double"):
                vals = [r[c] for r in rows]
                if dts[c] == "float":
                    # Spark collects FloatType as widened doubles; route
                    # through float32 so the shortest-repr coercion applies
                    vals = [None if v is None else _np.float32(v) for v in vals]
                fmtd = format_sequence(vals, maximum_precision)
                # missing cells stay blank (print.clj renders missing as nil)
                for j, (v, s) in enumerate(zip(vals, fmtd)):
                    body[j][i] = "" if v is None else s
    widths = [max(len(str(x[i])) for x in header + body) if header + body else 0
              for i in range(len(cols))]
    lines = [f"{name} [{shown} {len(cols)}]:", ""]
    lines.append("| " + " | ".join(str(c).ljust(w) for c, w in zip(cols, widths)) + " |")
    if print_types:
        lines.append("| " + " | ".join(dts[c].ljust(w) for c, w in zip(cols, widths)) + " |")
    lines.append("|" + "|".join("-" * (w + 1) + ":" for w in widths) + "|")
    for b in body:
        lines.append("| " + " | ".join(str(v).rjust(w) for v, w in zip(b, widths)) + " |")
    return "\n".join(lines)


def dataset(spark, data, **kw) -> Dataset:
    """``->dataset`` entry point returning the wrapper."""
    return Dataset(_io.to_dataset(spark, data, **kw))
