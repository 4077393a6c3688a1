from .pipeline import (
    stream_cdc_upsert,
    stream_incremental_dedup,
    stream_crawl_pipeline,
    stream_pretrain_screen,
    stream_web_crawl_pipeline,
    streaming_dedup_events,
    stream_domain_etl,
    streaming_event_counts,
)

__all__ = [
    "stream_cdc_upsert",
    "stream_incremental_dedup",
    "stream_crawl_pipeline",
    "stream_pretrain_screen",
    "stream_web_crawl_pipeline",
    "streaming_dedup_events",
    "stream_domain_etl",
    "streaming_event_counts",
]
