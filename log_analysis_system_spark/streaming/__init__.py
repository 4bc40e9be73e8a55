from .ad_analytics import (
    build_file_stream,
    build_kafka_stream,
    parse_ad_click_log,
    AdAnalyticsPipeline,
    sliding_window_counts,
    province_top3,
)
from .corpus import curate_doc_stream, parse_doc_stream
from .dedup import dedup_within_watermark

__all__ = [
    "build_file_stream",
    "build_kafka_stream",
    "parse_ad_click_log",
    "AdAnalyticsPipeline",
    "sliding_window_counts",
    "province_top3",
    "curate_doc_stream",
    "parse_doc_stream",
    "dedup_within_watermark",
]
