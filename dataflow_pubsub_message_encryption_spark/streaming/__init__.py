from .pipeline import (  # noqa: F401
    attribution_join_stream,
    attribution_join_stream_outer,
    session_counts_stream,
    sliding_counts_stream,
    stateful_dedup_stream,
    windowed_counts_stream,
    write_parquet_sink,
    write_text_sink,
)
