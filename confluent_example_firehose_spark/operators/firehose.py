"""The reference's operator surface, re-expressed as Catalyst plans.

Covers SURVEY.md §2.A operators #2-#6 and #8 (JSON deserialize, map-key
filter, map->array projections, dictionary lookup join, keyed
last-value aggregation, lazy series creation). Each helper returns a
Column or DataFrame built purely from `pyspark.sql.functions` so the
whole pipeline stays inside whole-stage codegen — no Python in the hot
path.

Scale notes:
- `last_value_table` uses `max_by(value, struct(order))` which Catalyst
  plans as partial+final hash aggregation (map-side combine). At 100 TB
  that beats the window-function formulation (row_number over a
  partition sort) by avoiding a full sort: state per group is one row.
- `lookup_enrich` broadcasts the dimension (the reference's in-memory
  LookupMapper, LookupMapper.java:20-29, is by construction small);
  streaming twin is a stream-static join which Spark re-plans per
  micro-batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import FILTERED_TAGS, METRIC_SCHEMA


def parse_metrics(df: DataFrame, value_col: str = "value") -> DataFrame:
    """byte[]/string JSON -> typed rows; corrupt records dropped.

    Reference: AbstractFirehose.java:98-105 (Jackson bind) with the
    permissive per-record error path at :118-123. `from_json` yields
    null for a null value and an all-null struct for corrupt input in
    permissive mode; a real record always carries id+name
    (FirehoseMetric.java:17-18), so "id or name present" is the
    "log & skip" predicate for both.

    Each record is decoded exactly once: `inline` is a generator, so the
    skip filter cannot be pushed below it and copy `from_json` into the
    Filter (a Project + Filter form decodes the record up to four
    times). Both `inline` of a null struct and of an all-null struct
    yield an all-null row, which the filter drops.

    The decode runs on the source's own splits and keeps arrival order.
    A hash spread of the raw rows before it was measured and not kept:
    on one-split polls it won no clear time and it shuffles the raw
    JSON.
    """
    decoded = F.from_json(F.col(value_col).cast("string"), METRIC_SCHEMA)
    return (
        df.select(F.inline(F.array(decoded)))
        .filter(F.col("id").isNotNull() | F.col("name").isNotNull())
    )


def filtered_tags(tags: Column | str) -> Column:
    """Drop tag keys in FILTERED_TAGS; FirehoseMetric.java:65-76."""
    col = F.col(tags) if isinstance(tags, str) else tags
    keys = [F.lit(k) for k in FILTERED_TAGS]
    return F.map_filter(col, lambda k, _v: ~k.isin(*keys))


def sorted_entries(tags: Column | str) -> Column:
    """Key-sorted (key, value) entry array of the filtered map.

    The reference iterates a HashMap so its label order is
    non-deterministic (FirehoseMetric.java:69); we standardize on
    key-sorted order (SURVEY.md §1.4) — array_sort on an array of
    structs orders by the first field (the key).
    """
    return F.array_sort(F.map_entries(filtered_tags(tags)))


def labels(tags: Column | str) -> Column:
    """Filtered tag keys, key-sorted; FirehoseMetric.java:77-83."""
    return sorted_entries(tags)["key"]


def label_values(tags: Column | str) -> Column:
    """Tag values aligned with labels(); FirehoseMetric.java:96-102."""
    return sorted_entries(tags)["value"]


def series_key(name: Column | str, tags: Column | str) -> Column:
    """The logical state key: (metric name, sorted k=v label vector).

    Reference keys the gauge cache by name and the Gauge child by the
    label-value vector (AbstractPrometheusFirehose.java:42,48).
    """
    return series_key_of_entries(name, sorted_entries(tags))


def series_key_of_entries(name: Column | str, entries: Column | str) -> Column:
    """series_key over an already computed sorted_entries() array."""
    name_col = F.col(name) if isinstance(name, str) else name
    entries_col = F.col(entries) if isinstance(entries, str) else entries
    kv = F.transform(
        entries_col, lambda e: F.concat_ws("=", e["key"], e["value"])
    )
    return F.concat_ws("|", name_col, F.array_join(kv, ","))


def lookup_enrich(
    df: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    mapping: dict[str, str],
    broadcast_dim: bool = True,
) -> DataFrame:
    """Dictionary lookup join with identity fallback.

    Reference: LookupMapper.java:20-29 substitutes label values through
    Map<label, Map<old,new>> with getOrDefault fallback. Spark-first:
    broadcast hash LEFT join + coalesce(new, old) — no shuffle of the
    fact side, which is the only viable shape when the fact is 100 TB.

    mapping: {output_col: dim_col}; each output coalesces to the
    original fact value when the dim has no entry (identity fallback).
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    joined = df.join(d, df[fact_key] == d[dim_key], "left")
    out = joined
    for out_col, dim_col in mapping.items():
        fallback = df[out_col] if out_col in df.columns else F.lit(None)
        out = out.withColumn(out_col, F.coalesce(d[dim_col], fallback))
    return out.drop(*[c for c in dim.columns])


def last_value_table(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    order_cols: list[str],
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Keyed last-value-wins state table (the gauge upsert).

    Reference: AbstractPrometheusFirehose.java:41-51 — g.set(value)
    overwrites per series in arrival order. Batch twin: the latest
    value by a total order (order_cols must end in a unique column for
    determinism). Planned as partial+final hash agg via max_by —
    no sort, no window shuffle; survives skew because AQE can split
    hot groups and the partial agg already collapsed per-map-task rows.
    """
    order = F.struct(*[F.col(c) for c in order_cols])
    aggs = [
        F.max_by(F.col(value_col), order).alias(f"last_{value_col}"),
        F.max(order_cols[0]).alias(f"last_{order_cols[0]}"),
    ]
    for alias, expr in (extra_aggs or {}).items():
        aggs.append(expr.alias(alias))
    return df.groupBy(*keys).agg(*aggs)
