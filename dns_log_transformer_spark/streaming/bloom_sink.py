"""Streaming Bloom-filter maintenance: ``foreachBatch`` incremental OR
of benchmark n-gram bits into a stored (word, bits) table — the
streaming twin of the batch bloom build (operators/sketches.py
``bloom_word_rows``), completing the mergeable-summary sink family
(sketch_sink: CMS + HLL; here: Bloom).

Why it streams for free: bit-OR is associative, commutative AND
idempotent, so the accumulated bitset equals the one-shot batch bitset
of the full benchmark feed under ANY batch split — including replayed
or duplicated benchmark docs across batches (idempotence is what the
CMS grid does NOT have), so a doc streamed twice in different batches
sets no new bits.

The table is the bitset's word rows (<= ceil(m_bits/63) rows, ~1k at
the 8 KB default): bounded by the m_bits PARAMETER, never by how many
benchmark docs have streamed through. Each micro-batch folds into it
with ``sinks.fold_epoch`` (the same fenced fold as the sketch and
view sinks), which is O(sketch) per batch — no touched-partition
pruning needed (contrast cdc/vector/near-dup sinks, which maintain
O(corpus) tables). Decontamination consumers read the accumulated
words with ``bloom_words_list`` (driver state = the same bounded word
list) and probe via ``operators/corpus.py decontaminate_against`` —
k codegen bit tests riding the corpus scan, zero joins.

The reference has no state at all (stateless per-request transform,
app/app.py:219-263); this module exists for the engine's streaming
LLM-pipeline surface (a benchmark/eval suite that grows over time
while training-corpus decontamination keeps running).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dns_log_transformer_spark.operators.sketches import (
    BLOOM_BITS,
    BLOOM_K,
    _WORD_BITS,
    bloom_word_rows,
)
from dns_log_transformer_spark.streaming.sinks import (
    fold_epoch,
    read_base,
    require_local_path,
)


def read_bloom_words(spark: SparkSession, table_path: str) -> DataFrame | None:
    """The accumulated bitset as (word, bits) rows. None before any
    batch has committed."""
    return read_base(spark, os.path.join(table_path, "bloom"))[1]


def bloom_words_list(
    spark: SparkSession, table_path: str, m_bits: int = BLOOM_BITS
) -> list[int]:
    """Materialize the stored bitset as the dense word list
    ``bloom_hit_from_hashes`` probes (driver state bounded by m_bits,
    same discipline as ``bloom_bits_collect``). Empty filter (no
    batches yet) -> all-zero words (probes all miss)."""
    words = [0] * (-(-m_bits // _WORD_BITS))
    stored = read_bloom_words(spark, table_path)
    if stored is not None:
        for r in stored.collect():
            words[r["word"]] = r["bits"]
    return words


def bloom_filter_sink(
    bench: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    k: int = BLOOM_K,
    m_bits: int = BLOOM_BITS,
) -> StreamingQuery:
    """Start incremental Bloom upkeep over a streaming DataFrame of
    benchmark documents: each micro-batch's distinct n-gram shingles
    set their k bits, OR-merged into the stored word rows. Returns the
    StreamingQuery."""
    require_local_path(table_path)
    bloom_path = os.path.join(table_path, "bloom")

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from dns_log_transformer_spark.operators.dedup import with_shingles

        shingle_set = (
            with_shingles(batch_df, id_col, text_col, n)
            .select(F.explode("shingles").alias("shingle"))
            .distinct()
        )
        fold_epoch(
            bloom_word_rows(shingle_set, "shingle", k, m_bits),
            epoch_id,
            bloom_path,
            ["word"],
            [F.bit_or("bits").alias("bits")],
        )

    return (
        bench.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
