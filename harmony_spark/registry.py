"""Query registry backing the driver contract (``__spark_entry__.py``).

Every operator the engine claims (SURVEY.md §2) registers here as a
``QuerySpec``: a DataFrame-API implementation plus (where SQL-expressible)
the equivalent DuckDB oracle SQL. The driver runs both sides at sf=0.01
and hash-compares; ``tests/test_oracle_queries.py`` runs the identical
check locally at sf=0.001.

Column-name parity rule: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver sorts columns by name before
hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


# The driver's correctness gate checks the FIRST 50 registry entries:
# the four harmony_* pipelines, then the promoted queries, in this order.
# Every other query follows by query number and is covered by the
# identical local oracle gate at sf0.001.
DRIVER_WINDOW = (
    "harmony_correct",
    "harmony_correct_blocked",
    "harmony_correct_2cov",
    "harmony_stream_drift",
    "q286_grid_density_clusters",
    "q292_triangle_count",
    "q318_hyperplane_lsh",
    "q325_equidepth_histogram",
    "q334_customer_alive",
    "q335_kneser_ney",
    "q51_sql_text_surface",
    "q64_json_typed",
    "q66_asof_join",
    "q74_gap_fill",
    "q346_order_islands",
    "q347_croston_intermittent",
    "q352_local_clustering",
    "q354_uplift_qini",
    "q359_levene_variance_test",
    "q360_friedman_test",
    "q362_theil_inequality",
    "q364_trimmed_winsorized_mean",
    "q366_cochran_armitage_trend",
    "q367_split_conformal",
    "q370_randomization_test",
    "q371_jackknife_influence",
    "q373_simpson_diversity",
    "q374_degree_assortativity",
    "q375_periodogram",
    "q378_tukey_hsd",
    "q379_dunning_collocations",
    "q380_mann_kendall_trend",
    "q219_spearman_rho",
    "q225_pagerank",
    "q254_bfs_reachability",
    "q282_recsys_holdout_eval",
    "q315_logrank_test",
    "q337_window_funnel",
    "q349_mcnemar_paired",
    "q351_ttr_hapax",
    "q353_eoq_policy",
    "q356_shapley_attribution",
    "q357_rmst",
    "q358_exact_span_dedup",
    "q361_fleiss_kappa",
    "q363_hurst_exponent",
    "q365_hash_bootstrap_ci",
    "q372_trigram_novelty",
    "q376_fisher_price_index",
    "q377_morans_i",
)


def load_all() -> dict[str, QuerySpec]:
    """Import every module that registers queries, then return the
    registry in driver order: :data:`DRIVER_WINDOW`, then every other
    query by query number."""
    from harmony_spark.operators import adapters, advanced, cdc, graph_ts_ext, intervals, inventory, journeys, layout, relational, spatial, stats_ext, tpch, windows, streaming_batch  # noqa: F401
    from harmony_spark.extensions import curation, dedup, factorization, multimodal, packing, records, similarity, sketches, text_analysis, tokenizer  # noqa: F401
    from harmony_spark.functions import preprocessing  # noqa: F401
    from harmony_spark.core import queries as core_queries  # noqa: F401

    rest = sorted(
        set(QUERIES) - set(DRIVER_WINDOW),
        key=lambda n: int(n[1:].split("_", 1)[0]),  # "q123_x" -> 123
    )
    return {name: QUERIES[name] for name in (*DRIVER_WINDOW, *rest)}
