"""The query inventory: name → (spark, sf_dir) -> DataFrame, plus the
DuckDB oracle SQL twin for every SQL-expressible query.

This is the engine's public face for the driver contract
(``__spark_entry__.py``) and mirrors the reference's own differential
test pattern: ``client_folder/scripts/test.py:48-72`` re-runs each job
through a sequential local executor and compares order-insensitively
(``test.py:126-139``); here DuckDB plays that local-oracle role.

Adding a query: define it in a ``plans`` module under
``@query(name, oracle_sql)``. That registers it in ``ALL_QUERIES`` (and
its oracle in ``ALL_ORACLES``), which pytest, the CLI and the service
read. To give it one of the driver's slots as well, add its name to
``DECLARED``.

Conventions (keep, or the driver's value-hash comparison breaks):
- alias every computed column identically in Spark and SQL;
- money sums go through DECIMAL(18,2) then cast to DOUBLE (exact,
  associative arithmetic → bit-identical across engines);
- timestamps are formatted to 'yyyy-MM-dd HH:mm:ss' strings (session
  timezone pinned to UTC to match DuckDB's naive timestamps);
- posting lists / collected sets are emitted as sorted comma-joined
  strings (stable cross-engine representation).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapreduce_project_spark.session import prep_session
from mapreduce_project_spark.sources import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# Every registered query and oracle, in registration order.
ALL_QUERIES: dict[str, QueryFn] = {}
ALL_ORACLES: dict[str, str] = {}

# Rows-only queries whose VALUES are legitimately run-varying within a
# published error bound (e.g. KLL sketch compaction depends on partial-
# agg merge order): name → relative tolerance for the determinism
# check in tests/test_oracle.py. Their hard correctness signal is the
# error-envelope test vs the exact answer (tests/test_sketches.py),
# not run-to-run byte equality.
ROWS_ONLY_RTOL: dict[str, float] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and its DuckDB oracle twin) under a new name."""
    if name in ALL_QUERIES:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            prep_session(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        ALL_QUERIES[name] = wrapped
        if oracle is not None:
            ALL_ORACLES[name] = oracle
        return wrapped

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# The driver's correctness harness records at most 50 queries, in
# registry order (CORRECTNESS_r01.json stopped at exactly 50), so the
# declared slate is capped there. Every other registered query is just
# as oracle-checked by tests/test_oracle.py; it only lacks a driver slot.
MAX_DECLARED = 50

# The driver's slate, in the order the driver records it.
DECLARED: tuple[str, ...] = (
    "word_count",
    "inverted_index",
    "agg_pricing_summary",
    "assemble_training_set",
    "join_revenue_by_nation",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_jaccard_prefix_filter",
    "similarity_topk_ivf",
    "events_sessions_pandas",
    "tpch_q5_local_supplier_volume",
    "bpe_train_merges",
    "pagerank_trade_graph",
    "events_watermark_audit",
    "classifier_auc_activity",
    "classifier_lift_deciles",
    "events_km_survival",
    "events_tail_index_hill",
    "events_cross_correlation",
    "search_rm3_expansion",
    "forecast_backtest_mase",
    "calibration_isotonic",
    "clustering_silhouette",
    "abtest_cmh_pooled",
    "ivf_nprobe_recall_curve",
    "join_size_preflight",
    "events_burst_detection",
    "abtest_bh_fdr",
    "abtest_report_card",
    "embedding_geometric_median",
    "text_keyness_g2",
    "text_textrank_summary",
    "lsh_width_ladder_sampled",
    "dedup_semantic_recall_cert",
    "assemble_training_set_v8",
    "join_order_advisor",
    "join_preflight_sketch_audit",
    "partition_layout_advisor",
    "graph_clustering_coefficient",
    "search_query_likelihood",
    "conformal_value_intervals",
    "source_zipf_slope",
    "text_tfidf_cosine_pairs_lsh",
    "graph_betweenness_sampled",
    "correctness_trend_report",
    "similarity_topk_mips",
    "graph_hits_bipartite",
    "bench_trend_report",
    "pagerank_personalized_seeded",
    "gdpr_delete_audit",
)

# Import side-effect: each module registers its queries via @query.
from mapreduce_project_spark.plans import core_queries  # noqa: E402,F401
from mapreduce_project_spark.plans import relational_queries  # noqa: E402,F401
from mapreduce_project_spark.plans import events_queries  # noqa: E402,F401
from mapreduce_project_spark.plans import text_queries  # noqa: E402,F401
from mapreduce_project_spark.plans import similarity_queries  # noqa: E402,F401
from mapreduce_project_spark.plans import compat_queries  # noqa: E402,F401
from mapreduce_project_spark.plans import advanced_queries  # noqa: E402,F401
from mapreduce_project_spark.plans import training_queries  # noqa: E402,F401
from mapreduce_project_spark.plans import classic_queries  # noqa: E402,F401
from mapreduce_project_spark.plans import classic_queries2  # noqa: E402,F401
from mapreduce_project_spark.plans import sketch_queries  # noqa: E402,F401


def check_declared(declared: tuple[str, ...]) -> None:
    """Raise unless every declared name is registered exactly once."""
    dups = sorted({n for n in declared if declared.count(n) > 1})
    unknown = [n for n in declared if n not in ALL_QUERIES]
    if dups or unknown:
        raise ValueError(
            f"DECLARED lists duplicate names {dups} and unregistered names {unknown}"
        )


check_declared(DECLARED)
assert len(DECLARED) <= MAX_DECLARED, (
    f"{len(DECLARED)} declared queries exceed the driver's {MAX_DECLARED}-entry "
    "correctness window"
)

# __spark_entry__ serves QUERIES/ORACLES to the driver; EXTRA_* hold the rest.
QUERIES: dict[str, QueryFn] = {n: ALL_QUERIES[n] for n in DECLARED}
ORACLES: dict[str, str] = {n: ALL_ORACLES[n] for n in DECLARED if n in ALL_ORACLES}
EXTRA_QUERIES: dict[str, QueryFn] = {
    n: f for n, f in ALL_QUERIES.items() if n not in QUERIES
}
EXTRA_ORACLES: dict[str, str] = {
    n: sql for n, sql in ALL_ORACLES.items() if n not in QUERIES
}
