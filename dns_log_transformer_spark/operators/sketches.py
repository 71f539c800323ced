"""Fixed-size sketches: count-min frequency grid and Bloom membership bits.

Count-min sketch: fixed-size frequency estimation over token streams.

The sketch answer to "what are the hot tokens in 100 TB of text" when an
exact groupBy(token) would shuffle one row per distinct token: a d x w
counter grid (depth x width, here 4 x 64 = 256 cells) whose size is FIXED
regardless of corpus size. Each token instance increments one counter per
row (d md5-salted hashes); a token's estimate is the MIN over its d
counters — always >= the true count (collisions only add), with error
bounded by total_count/w per the standard CMS analysis (Cormode &
Muthukrishnan 2005).

Scale shape: the counter build is one explode + map-side-combined
aggregation into <= d*w rows — the shuffle payload is the GRID, not the
vocabulary. Probing broadcasts the grid (d*w rows by construction) and
equi-joins candidates against it; no driver-side state beyond nothing.

Hashes are md5-based so the DuckDB oracle reproduces the exact grid and
estimates bit-for-bit (same discipline as the dedup family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dns_log_transformer_spark.operators.caching import persist_tracked
from dns_log_transformer_spark.operators.text import rebalance_for_fanout, tokens

CMS_DEPTH = 4
CMS_WIDTH = 64


def _cms_hash(tok: Column, j: int, width: int) -> Column:
    """Row-j counter column for a token: first 32 md5 bits of 'j:tok',
    mod width. Salting with the row index makes the d hash functions
    independent draws from the same family."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{j}:"), tok)), 1, 8), 16, 10
    ).cast("long")
    return (h % width).cast("int")


def _token_stream(df: DataFrame, text_col: str) -> DataFrame:
    """(_tok) instance stream, rebalanced before the fan-out (rule 7)."""
    return rebalance_for_fanout(df.select(F.col(text_col))).select(
        F.explode(tokens(F.col(text_col))).alias("_tok")
    )


def cms_counters(
    df: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build the (j, h, c) counter grid from the token stream.

    One explode to token instances, one explode to the d (row, bucket)
    pairs, one aggregation: partial counts combine map-side into at most
    depth*width rows per task, so the exchange carries the grid, never
    the stream."""
    return _counters_from(_token_stream(df, text_col), depth, width)


def _counters_from(toks: DataFrame, depth: int, width: int) -> DataFrame:
    jh = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), _cms_hash(F.col("_tok"), j, width).alias("h")
            )
            for j in range(depth)
        ]
    )
    return (
        toks.select(F.explode(jh).alias("_jh"))
        .select(F.col("_jh.j").alias("j"), F.col("_jh.h").alias("h"))
        .groupBy("j", "h")
        .agg(F.count("*").alias("c"))
    )


def cms_topk(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Top-k tokens by count-min estimate: distinct candidate tokens
    probe the broadcast grid (d rows each), estimate = min over the d
    counters, rank by (est desc, tok asc).

    The candidate set here is the corpus vocabulary (exact at fixture
    scale); at 100 TB candidates come from a cheap pre-filter (e.g. a
    sampled vocabulary) and the sketch prices them without an exact
    count — the grid's size, and therefore the shuffle and broadcast
    cost, never grows with the corpus.

    Output: (tok, est) — est is a CMS upper bound on the true count
    (tests/test_sketches.py pins est >= true per token).
    """
    # ONE tokenize pass feeds both the counter build and the candidate
    # set (persisted: two consumers of the same fan-out — rule 4); the
    # candidate distinct would otherwise re-run the whole explode over
    # the under-split scan
    toks = persist_tracked(_token_stream(df, text_col))
    counters = _counters_from(toks, depth, width)
    cand = toks.select(F.col("_tok").alias("tok")).distinct()
    probes = cand.select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_hash(F.col("tok"), j, width).alias("h"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("_jh"),
    ).select("tok", F.col("_jh.j").alias("j"), F.col("_jh.h").alias("h"))
    est = (
        probes.join(F.broadcast(counters), ["j", "h"])
        .groupBy("tok")
        .agg(F.min("c").alias("est"))
    )
    return est.orderBy(F.desc("est"), F.asc("tok")).limit(k)


# ---------------------------------------------------------------------------
# Bloom filter: constant-size set membership for scan-side pre-filters
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 16  # 65,536 bits ~= 1,041 longs = 8 KB
BLOOM_K = 4  # hash functions per value (Kirsch-Mitzenmacher double hashing)
# 63 bits per long, not 64: DuckDB's checked arithmetic rejects
# 1::BIGINT << 63 (sign-bit overflow), so the oracle could never set
# bit 63 — keeping every word non-negative costs 1.6% space and removes
# all signed shift/compare edge cases on both engines.
_WORD_BITS = 63


def _bloom_h1h2(value: Column) -> tuple[Column, Column]:
    """One md5 per value split into two 48-bit halves — the same
    Kirsch-Mitzenmacher family the minhash signatures use
    (operators/dedup.py:165-169), so the DuckDB oracle reproduces every
    bit position with `CAST('0x' || substr(md5(x), ...) AS BIGINT)`."""
    h = F.md5(F.encode(value, "UTF-8"))
    h1 = F.conv(F.substring(h, 1, 12), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 13, 12), 16, 10).cast("long")
    return h1, h2


def _bloom_positions(value: Column, k: int, m_bits: int) -> list[Column]:
    """k bit positions for a value: (h1 + j*h2) mod m. h1,h2 < 2^48 and
    j < k <= 8, so h1 + j*h2 < 2^52 — no long overflow."""
    h1, h2 = _bloom_h1h2(value)
    return [((h1 + F.lit(j) * h2) % m_bits).cast("long") for j in range(k)]


def bloom_word_rows(
    values: DataFrame,
    value_col: str,
    k: int = BLOOM_K,
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """(word, bits) rows of the bitset: every value sets k bits; bits are
    grouped into 64-bit words and OR-combined map-side, so the exchange
    carries at most m_bits/64 rows per task no matter how many values
    feed the filter — the build never shuffles the value set."""
    pos = values.select(
        F.explode(F.array(*_bloom_positions(F.col(value_col), k, m_bits))).alias("p")
    )
    return (
        pos.select(
            F.expr(f"cast(p div {_WORD_BITS} as int)").alias("word"),
            F.expr(f"cast(p % {_WORD_BITS} as int)").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or(F.expr("shiftleft(1L, bit)")).alias("bits"))
    )


def bloom_bits_collect(
    values: DataFrame,
    value_col: str,
    k: int = BLOOM_K,
    m_bits: int = BLOOM_BITS,
) -> list[int]:
    """Materialize the bitset as a dense Python list of m_bits/64 longs.

    Driver state is bounded by the m_bits PARAMETER (8 KB at the default),
    never by the value count — the same bounded-collect discipline as the
    IVF/PQ codebooks. For filters past ~2^20 bits, skip the collect and
    broadcast-join `bloom_word_rows` on the word index instead (the
    cms_topk probe shape); the literal-array probe below is the
    zero-join fast path for broadcast-sized filters."""
    rows = bloom_word_rows(values, value_col, k, m_bits).collect()
    words = [0] * (-(-m_bits // _WORD_BITS))
    for r in rows:
        words[r["word"]] = r["bits"]
    return words


def bloom_hit_from_hashes(
    h1: Column,
    h2: Column,
    words: list[int],
    k: int = BLOOM_K,
    m_bits: int = BLOOM_BITS,
) -> Column:
    """Membership probe against a literal bitset, from pre-materialized
    h1/h2 columns (callers project `_bloom_h1h2` ONCE top-level so the
    md5 isn't re-evaluated per hash function — PLANS.md rule 1): k
    element_at lookups + bit_get tests, entirely JVM-side in one
    whole-stage-codegen projection — no join, no shuffle, no Python.
    NULL hashes probe to NULL (caller coalesces). False positives are
    deterministic (same md5 positions on both engines), false negatives
    impossible."""
    bits = F.lit(words)
    hit = F.lit(True)
    for j in range(k):
        p = (h1 + F.lit(j) * h2) % m_bits
        # index is provably in [1, ceil(m/63)], but try_element_at keeps
        # the ANSI-mode convention (never-throwing lookups) repo-wide
        word = F.try_element_at(bits, F.floor(p / _WORD_BITS).cast("int") + 1)
        hit = hit & (F.bit_get(word, (p % _WORD_BITS).cast("int")) == 1)
    return hit
