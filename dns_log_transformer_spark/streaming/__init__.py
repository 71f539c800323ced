"""Structured Streaming surface.

The reference is a streaming ETL service (HTTP push -> transform -> syslog,
app/app.py:60-102,219-263). Spark is pull-based, so the idiomatic rebuild
is: a thin receiver lands each HTTP request body as a file (one JSON
envelope per line) and ``readStream`` tails the landing directory;
``start_pipeline`` runs ONE ``foreachBatch`` query that decodes each
micro-batch once with the Milestone-1 batch transforms and, in one Spark
job, sends the syslog datagrams (one UDP socket per partition) and
writes a parquet archive and a quarantine (dead-letter) from it.

Delivery semantics: the reference acks before processing (at-most-once,
app/app.py:96-102). Here the file source replays an unfinished batch from
the checkpoint. Archive and quarantine files are named by batch id, so a
replay replaces them: exactly-once. A fence in the checkpoint dir skips a
batch already committed, so syslog datagrams are re-sent only for a batch
that crashed mid-send: at-least-once. ``dedup_within_watermark`` is the
operator for effectively-once on a record fingerprint downstream.
"""

from dns_log_transformer_spark.streaming.source import (
    read_firehose_stream,
    read_events_stream,
)
from dns_log_transformer_spark.streaming.pipeline import (
    build_streaming_lines,
    start_pipeline,
)
from dns_log_transformer_spark.streaming.windows import (
    tumbling_counts,
    sliding_counts,
    session_stats,
    dedup_within_watermark,
)
from dns_log_transformer_spark.streaming.stateful import (
    RUN_EVICT_STATE_STORE,
    funnel_stages,
    running_user_totals,
    sessionized_user_totals,
    user_activity_profile,
)
from dns_log_transformer_spark.streaming.cdc_sink import (
    read_latest,
    upsert_sink,
)
from dns_log_transformer_spark.streaming.vector_index import (
    ivf_index_sink,
    read_index,
)
from dns_log_transformer_spark.streaming.neardup_index import (
    neardup_index_sink,
    read_pairs,
    read_pairs_reconciled,
)
from dns_log_transformer_spark.streaming.sketch_sink import (
    read_cms,
    read_source_sketches,
    sketch_table_sink,
)
from dns_log_transformer_spark.streaming.bloom_sink import (
    bloom_filter_sink,
    bloom_words_list,
    read_bloom_words,
)
from dns_log_transformer_spark.streaming.mv_sink import (
    compact_mv,
    merge_epoch,
    mv_sink,
    read_mv,
)
from dns_log_transformer_spark.streaming.corpus_monitor import (
    corpus_monitor_sink,
    read_scorecard,
)
from dns_log_transformer_spark.streaming.winnow_index import (
    merge_docs_batch,
    read_spans,
    winnow_index_sink,
)

__all__ = [
    "read_firehose_stream",
    "read_events_stream",
    "build_streaming_lines",
    "start_pipeline",
    "tumbling_counts",
    "sliding_counts",
    "session_stats",
    "dedup_within_watermark",
    "funnel_stages",
    "running_user_totals",
    "sessionized_user_totals",
    "RUN_EVICT_STATE_STORE",
    "user_activity_profile",
    "read_latest",
    "upsert_sink",
    "ivf_index_sink",
    "read_index",
    "neardup_index_sink",
    "read_pairs",
    "read_pairs_reconciled",
    "sketch_table_sink",
    "read_cms",
    "read_source_sketches",
    "bloom_filter_sink",
    "bloom_words_list",
    "read_bloom_words",
    "mv_sink",
    "merge_epoch",
    "read_mv",
    "compact_mv",
    "winnow_index_sink",
    "read_spans",
    "merge_docs_batch",
    "corpus_monitor_sink",
    "read_scorecard",
]
