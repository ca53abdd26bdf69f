"""Query-plan inventory.

Importing this package populates :mod:`.registry` with every declared
query. ``__spark_entry__.py`` exposes the registry to the driver.
"""

from . import registry  # noqa: F401

# Each module registers its queries at import time.
from . import reference  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import llm  # noqa: E402,F401
from . import streaming_plans  # noqa: E402,F401
from . import advanced  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import roundsix  # noqa: E402,F401
from . import roundseven  # noqa: E402,F401
from . import roundeight  # noqa: E402,F401
from . import roundnine  # noqa: E402,F401
from . import roundten  # noqa: E402,F401
from . import roundeleven  # noqa: E402,F401
from . import roundtwelve  # noqa: E402,F401
from . import roundthirteen  # noqa: E402,F401
from . import roundfourteen  # noqa: E402,F401
from . import roundfifteen  # noqa: E402,F401
from . import roundsixteen  # noqa: E402,F401

# The driver's correctness gate audits the FIRST 50 registrations, so we
# curate that window each round. The cumulative driver ledger CLOSED in
# round 6: the union of CORRECTNESS_r01..r06 covers all 178 queries
# registered through round 6 with latest-status green, so from round 7
# on the window is pure freshness rotation (new registrations gated
# immediately + the stalest greens). Every query NOT in this round's
# window keeps its local safety net via tests/test_oracle_parity (all
# specs, every session).
#
# ROTATION (round 16 — the r15 verdict's cap ruling: "REGISTER all
# three staged round-15 queries ... The cap moves 218 → 221, then
# the registry is frozen again"). The ruling's named window (it fits
# exactly: 3 + 18 + 29 = 50):
#   - the 3 new round-15 registrations (gate-now-or-never:
#     t_quality_classifier, s_snapshot_tag_gc, s_group_wap_rebuild);
#   - the 18 round-11 rows held since r14 — the ledger's freshness
#     floor, four rounds stale, named by the r15 verdict as
#     must-include (a_count_rows ... x_struct_functions below);
#   - 29 of the 50 round-12 rows (scripts/staleness.py): every r12
#     row riding this round's edited files keeps a slot
#     (storage/snapshot.py: c_snapshot_diff, s_snapshot_changes,
#     s_snapshot_dml_lifecycle, s_snapshot_incremental_agg,
#     s_snapshot_pruned_read; streaming/incremental.py:
#     st_incremental_agg; operators/similarity.py: s_knn_ivf,
#     s_knn_pq; stream-audit drains: st_session_window,
#     st_tumbling_window, st_stream_dedup_watermark,
#     st_stream_stream_join; the curation-capstone langid rider
#     t_langid_confusion), the rest filled alphabetically. The 21
#     held for the round-17 rotation are static codec/SQL shapes
#     whose code has not drifted since round 12
#     (e6_q13_customer_distribution, e6_q21_suppliers_kept_waiting,
#     e6_q22_global_sales_opportunity, e6_q6_forecast_revenue,
#     e6_topk_per_group, e7_intersect, f_eq_predicate,
#     m_flac_decode_features, m_g711_decode_features,
#     m_gif_decode_features, m_mixed_image_decode_features,
#     m_tiff_decode_features, o_sort_limit,
#     p_rename_coalesce_reorder, q_sql_lateral_join,
#     q_sql_recursive_cte, s_csv_roundtrip, u_union_by_name,
#     x_datetime_functions, x_odata_date_roundtrip,
#     x_string_functions).
# Next-stalest after this round: those 21 round-12 rows + the
# round-13 rows (scripts/staleness.py). Registry is FROZEN at 221
# per the r15 ruling; future registrations only for queries that are
# the sole oracle coverage of a new SURVEY row.
#
GATED_QUERIES = [
    # the three round-15 registrations (cap ruling executed round 16)
    "t_quality_classifier",
    "s_snapshot_tag_gc",
    "s_group_wap_rebuild",
    # the eighteen round-11 rows held since r14 (freshness floor —
    # the r15 verdict's What's-wrong item 1)
    "a_count_rows",
    "a_distinct_sorted",
    "c3_empty_relation",
    "e13_hll_sketch_rollup",
    "e1_string_agg_ordered",
    "e3_join_anti",
    "e3_join_left",
    "e4_asof_join",
    "e4_range_join",
    "e6_q14_promo_revenue",
    "e6_q19_disjunctive_join",
    "e6_q5_local_supplier_volume",
    "f_notnull_nonempty",
    "g_pagerank",
    "p_stringify_nested",
    "q_sql_correlated_subquery",
    "semi_join_orchestration",
    "x_struct_functions",
    # 29 of the 50 stalest round-12 rows (the 21 held back for r17
    # are named in the rotation comment above)
    "c_snapshot_diff",
    "d_embedding_neardup",
    "d_exact_substr_spans",
    "d_prefix_filter_jaccard",
    "e13_cms_heavy_hitters",
    "e13_outliers_iqr",
    "e14_funnel_sequence",
    "e14_peak_concurrency",
    "e14_retention_cohorts",
    "e15_udtf_split_words",
    "e1_pricing_summary",
    "e2_rollup",
    "e3_join_inner",
    "e3_star_join_revenue",
    "e4_spatial_grid_join",
    "e5_window_ranks",
    "e6_copurchase_pairs",
    "s_knn_ivf",
    "s_knn_pq",
    "s_snapshot_changes",
    "s_snapshot_dml_lifecycle",
    "s_snapshot_incremental_agg",
    "s_snapshot_pruned_read",
    "st_incremental_agg",
    "st_session_window",
    "st_stream_dedup_watermark",
    "st_stream_stream_join",
    "st_tumbling_window",
    "t_langid_confusion",
]

registry.promote(GATED_QUERIES)
