"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()`` exposes every
implemented operator from SURVEY.md §2.3 (+ LLM-pipeline extensions);
``oracle_sql()`` gives the DuckDB twin for each (omitted only for
non-SQL-expressible pipelines, e.g. mapInPandas decoders).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from quiver_spark.registry import load_all_operators  # noqa: E402

# Registration order drives which queries a bounded correctness sample sees
# first. Rotated per change so every operator gets a recent driver-green
# row. Current window (50):
# (a) the 11 r12-stale rows deferred from the previous window (scalar,
#     set-op, top-k and text-statistics rows with no recent driver row);
# (b) the four scans that used to call the Python DS's opt-in page /
#     partition pruning directly and now read through sources.scan
#     (the JVM reader prunes them), plus quiver_scan_q1 (the flagship
#     quiver_table scan, no longer served from a relation cache) and
#     agg_stats_moments (its spread() call was removed);
# (c) every other quiver-format query whose read path moved onto the
#     one router: quiver_table / quiver_relation callers, and the
#     fixtures built by maintenance's compact, cluster_by and row-level
#     DML, whose reads now go through sources.scan too — plus the two
#     registry queries that exercise the router's options directly.
# 11+6+33 = 50; position 51+ falls back to registry order.
_PRIORITY = [
    # (a) deferred r12-stale rows
    "scalar_math_funcs",
    "scalar_string_funcs",
    "scalar_subquery_above_avg",
    "setop_union_counts",
    "text_bigram_topk",
    "text_type_token_ratio",
    "text_zipf_slope",
    "topk_orders",
    "unpivot_lineitem_metrics",
    "approx_distinct_parts",
    "text_repetition_stats",
    # (b) rerouted pruning scans, the flagship scan, agg_stats_moments
    "quiver_partitioned_scan",
    "quiver_clustered_scan",
    "quiver_bloom_lookup_scan",
    "quiver_zorder_scan",
    "quiver_scan_q1",
    "agg_stats_moments",
    # (c) other reads moved onto sources.scan
    "quiver_scan_checksums",
    "quiver_adaptive_zstd_join",
    "quiver_pruned_date_scan",
    "quiver_scan_embeddings",
    "quiver_limit_head",
    "quiver_scan_documents",
    "quiver_scan_bools",
    "quiver_scan_delta",
    "quiver_scan_freq",
    "quiver_scan_nested_types",
    "quiver_scan_uints",
    "quiver_scan_decimals",
    "quiver_sql_view_agg",
    "quiver_narrow_projection",
    "quiver_batch_read",
    "quiver_compacted_scan",
    "quiver_inplace_compact_scan",
    "quiver_scan_events",
    "quiver_time_travel_scan",
    "quiver_rollback_scan",
    "quiver_manifest_packed_scan",
    "quiver_merge_schemas_scan",
    "quiver_manifest_rebuild_scan",
    "quiver_delete_scan",
    "quiver_update_scan",
    "quiver_merge_upsert_scan",
    "quiver_incremental_scan",
    "quiver_merge_cdc_scan",
    "quiver_alter_evolution_scan",
    "quiver_check_constraint_scan",
    "quiver_repartitioned_scan",
    "quiver_unified_scan",
    "quiver_write_unified_scan",
]


def _ordered_specs():
    specs = load_all_operators()
    rank = {n: i for i, n in enumerate(_PRIORITY)}
    return dict(
        sorted(
            specs.items(),
            key=lambda kv: (rank.get(kv[0], len(rank)), list(specs).index(kv[0])),
        )
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the Q1-style pricing summary computed
    over the NATIVE quiver format scan (parquet → quiver conversion cached
    under /tmp on first run) — one call exercises the writer, the adaptive
    codec cascade, the DataSource scan, and the relational layer."""
    specs = load_all_operators()
    return specs["quiver_scan_q1"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark for name, spec in _ordered_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _ordered_specs().items()
        if spec.oracle is not None
    }
