"""Workload definitions: the inputs each workload generates and the query
mix it runs. `per_seed` data is generated from the run's seed; otherwise the
data is generated once from a fixed seed (so its oracle results are computed
once per checkout) and the run's seed only permutes the query order.
"""
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    data: str                 # "corpus" or "star"
    params: dict = field(default_factory=dict)
    per_seed: bool = False
    queries: tuple = ()


FIXED_DATA_SEED = 20250101

WORDCOUNT = ("wordcount_topk", "wordcount_full", "wordcount_textfile", "letter_buckets")

RELATIONAL = tuple(f"q{i}_{s}" for i, s in [
    (1, "pricing_summary"), (2, "min_cost_supplier"), (3, "shipping_priority"),
    (5, "region_revenue"), (6, "forecast_revenue"), (7, "nation_trade"),
    (8, "market_share"), (9, "product_profit"), (10, "returned_items"),
    (11, "important_parts"), (12, "delay_classes"), (13, "order_distribution"),
    (14, "promo_share"), (15, "top_supplier"), (16, "supplier_variety"),
    (17, "small_quantity"), (18, "large_orders"), (19, "disjunctive_revenue"),
    (20, "dominant_suppliers"), (21, "waiting_suppliers"), (22, "dormant_customers"),
]) + ("rollup_lineitem", "cube_orders", "grouping_sets_orders", "window_analytics_orders")

TEXT_PIPELINE = (
    "text_bpe_train", "text_bpe_apply_batched", "dedup_minhash_index_refresh",
    "dedup_simhash_index_refresh", "dedup_edit_distance", "curation_scrubbed",
    "text_quality", "text_dup_spans")

# three finite drains, plus one eager-checkpoint text query so that block
# storage (checkpoint blocks) is measured on a listed workload
STREAMING = ("stream_tumbling", "stream_dedup", "stream_chunk_dedup", "text_bpe_train")

WORKLOADS = {w.name: w for w in [
    Workload("wordcount",
             "corpus", {"docs": 8000, "mean_words": 180, "row_groups": 8},
             per_seed=True, queries=WORDCOUNT),
    Workload("relational",
             "star", {"sf": 0.01}, queries=RELATIONAL),
    Workload("text_pipeline",
             "star", {"sf": 0.01}, queries=TEXT_PIPELINE),
    Workload("streaming",
             "star", {"sf": 0.01}, queries=STREAMING),
]}

# a few rows of every table: the benchmark's own smoke test
SMOKE = {"corpus": {"docs": 200, "mean_words": 40, "row_groups": 4}, "star": {"sf": 0.001}}
