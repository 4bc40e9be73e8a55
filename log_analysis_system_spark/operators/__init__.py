from .sessionize import sessionize, session_aggregate
from .topn import grouped_topn, global_topn, top10_categories_by_counts
from .funnel import page_splits, conversion_rates
from .sampling import stratified_sample_exact
from .aggregates import bin_ratio_aggregate, explode_count, session_bin_ratios

__all__ = [
    "sessionize",
    "session_aggregate",
    "grouped_topn",
    "global_topn",
    "top10_categories_by_counts",
    "page_splits",
    "conversion_rates",
    "stratified_sample_exact",
    "bin_ratio_aggregate",
    "explode_count",
    "session_bin_ratios",
]
